"""Benchmark entry point.

    python3 perfbench/run.py --workload chain_short --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, sets up a Spark session, runs cold-cache passes for
``--seconds`` seconds, checks every pass's output, and prints one JSON
line: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. Exits 1 when an output check fails. Everything the run
writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.metrics import E2E, PER_LAYER, SPAN_METRICS  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 3
TRACED_UNTRACED_PASSES = 1


def bootstrap() -> None:
    """Make the checkout importable here and in Spark's Python workers, and
    keep temporary files inside the checkout."""
    if not os.path.isfile(os.path.join(ROOT, "autoner_spark", "__init__.py")):
        sys.exit("perfbench: no autoner_spark package here; run from the "
                 "root of a checkout")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # dedup_jaccard_routed profiles and routes as in production, even when
    # the calling shell pins the route
    os.environ.pop("AUTONER_JACCARD_ROUTE", None)


def untraced_run(bench, wl) -> dict[str, float]:
    """``setup_s`` = session start + the median of SETUP_ROUNDS dictionary
    set-ups + the untimed warm-up pass. The JIT is still warming after that
    cold pass, so one more untimed pass runs before the timed cold-cache
    passes of the run's seconds."""
    from perfbench.procs import WorkerPeakRss

    clock = bench.clock
    with WorkerPeakRss() as rss:
        t0 = clock()
        bench.start(bench.nproc, wl.conf())
        session_s = clock() - t0
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = clock()
            wl.setup()
            rounds.append(clock() - t0)
        t0 = clock()
        bench.run_pass(wl.one_pass)              # warm-up pass
        warm_s = clock() - t0
        wl.expect()
        bench.run_pass(wl.one_pass)              # settle pass, untimed
        t0, w0 = clock(), time.perf_counter()
        walls = bench.timed_passes(wl.one_pass, bench.seconds)
        stolen = time.perf_counter() - w0 - (clock() - t0)
        rss.sample()
    print(f"perfbench: session {session_s:.3f}s, dictionary "
          f"{[round(x, 3) for x in rounds]}, warm-up {warm_s:.3f}s, "
          f"passes {[round(x, 3) for x in walls]}, steal "
          f"{stolen:.3f}s of the timed span", file=sys.stderr)
    wall = statistics.median(walls) if walls else float("nan")
    return {
        "setup_s": session_s + statistics.median(rounds) + warm_s,
        "wall_s": wall,
        "turns_per_s": wl.n_turns / wall,
        "worker_peak_rss_mb": rss.peak_mb,
    }


def traced_run(bench, wl) -> dict[str, float]:
    from perfbench.procs import event_log_metrics
    from perfbench.harness import TRACED_GROUP

    tr = bench.tracer
    bench.start(bench.nproc, wl.conf())
    wl.setup()
    with bench.untraced():
        bench.run_pass(wl.one_pass)              # untimed warm-up pass
        wl.expect()
        bench.run_pass(wl.one_pass)              # settle pass
        walls = [w for w in (bench.run_pass(wl.one_pass)
                             for _ in range(TRACED_UNTRACED_PASSES)) if w]
    traced = bench.traced_pass(wl.one_pass)
    wall = statistics.median(walls) if walls else float("nan")
    layer = dict.fromkeys(PER_LAYER, 0)
    layer.update(wl.layer)
    layer["trace.pass_s"] = traced or float("nan")
    layer["trace.overhead_s"] = (traced or float("nan")) - wall
    layer.update(wl.probes(wall))
    bench.stop()                                 # flushes the event log
    layer.update(event_log_metrics(bench.event_dir, TRACED_GROUP))
    # core-second share of the traced pass: the tagger is the only Python
    # UDF in a pass, so its share is the Python workers' run time
    layer["tagger.wall_share"] = (layer["spark.python_run_s"]
                                  / (bench.nproc * layer["trace.pass_s"]))

    self_s = tr.self_times()
    for span, metric in SPAN_METRICS.items():
        if span in self_s:
            layer[metric] = self_s[span]
    out = os.path.join(STATE, "out")
    os.makedirs(out, exist_ok=True)
    tr.dump(os.path.join(out, f"spans-{bench.workload}-{bench.seed}.json"))
    return layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bootstrap()

    from perfbench.harness import Bench
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  STATE)
    wl = WORKLOADS[args.workload](bench)
    try:
        wl.prepare()
        values = traced_run(bench, wl) if args.trace else untraced_run(bench, wl)
    finally:
        bench.close()
    units = PER_LAYER if args.trace else E2E
    correct = bench.failed == 0
    result = {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

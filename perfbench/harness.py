"""Session lifetime, timed passes and failure accounting for one run."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

from .procs import steal_seconds, wait_for_descendants
from .spans import Tracer

TRACED_GROUP = "perfbench-traced-pass"


class Bench:
    """One benchmark run: owns the Spark session, the tracer and the
    attempted/failed pass counts."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, state_dir: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = Tracer(traced)
        self.cpus = os.sched_getaffinity(0)
        self.nproc = len(self.cpus)
        self.state_dir = state_dir
        self.cache_dir = os.path.join(state_dir, "cache")
        self.work_dir = os.path.join(state_dir, "work", str(os.getpid()))
        self.event_dir = os.path.join(self.work_dir, "events")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        for d in (self.cache_dir, self.work_dir, self.event_dir):
            os.makedirs(d, exist_ok=True)

    def clock(self) -> float:
        """Seconds on a clock that stops while the hypervisor runs other
        guests on this run's CPUs: wall time less their steal time,
        averaged over them. On a machine of its own it is the wall clock;
        on a shared host, time that other tenants took is not counted
        against the program."""
        return time.perf_counter() - steal_seconds(self.cpus) / self.nproc

    # -- session ------------------------------------------------------------

    def start(self, cores: int, conf: dict[str, str]) -> None:
        from autoner_spark.session import get_spark

        self.stop()
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            # native-library extraction and JVM temp files stay in the
            # checkout too. The heap starts at its full size and the context
            # cleaner's periodic System.gc() runs concurrently, so neither
            # heap growth nor a stop-the-world collection lands in a timed
            # pass. All of it takes effect only when this start launches
            # the JVM.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
                "-XX:+ExplicitGCInvokesConcurrent",
            **conf,
        }
        if self.traced:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.event_dir,
            })
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}", cores=cores,
                                   extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait until
        every process this run started has ended."""
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                # the gateway JVM exits once its stdin is closed
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — killed just below
                    proc.kill()
                    proc.wait()
        wait_for_descendants()
        shutil.rmtree(self.work_dir, ignore_errors=True)

    def cold(self) -> None:
        """Drop every cached relation so the next pass starts cold."""
        from autoner_spark.caching import release_caches

        release_caches()
        self.spark.catalog.clearCache()

    # -- passes -------------------------------------------------------------

    def run_pass(self, one_pass) -> float | None:
        """Run ``one_pass`` cold and return its seconds on ``clock``, or
        None if it raised or its output check failed. ``one_pass`` returns a
        callable that checks the outputs after the clock has stopped."""
        self.cold()
        self.attempted += 1
        try:
            t0 = self.clock()
            check = one_pass()
            wall = self.clock() - t0
            problems = check()
        except Exception as exc:  # noqa: BLE001 — counted as a failed pass
            traceback.print_exc(file=sys.stderr)
            problems = [f"pass raised {type(exc).__name__}: {exc}"]
        finally:
            self.cold()
        if problems:
            self.failed += 1
            for p in problems:
                print(f"perfbench: check failed: {p}", file=sys.stderr)
            return None
        return wall

    def timed_passes(self, one_pass, seconds: float) -> list[float]:
        """Passes until ``seconds`` have elapsed, at least one; stops early
        after three failures."""
        walls: list[float] = []
        deadline = time.monotonic() + seconds
        while (not walls or time.monotonic() < deadline) and self.failed < 3:
            wall = self.run_pass(one_pass)
            if wall is not None:
                walls.append(wall)
        return walls

    def traced_pass(self, one_pass) -> float | None:
        """One pass with spans on. Its jobs, and not those of its output
        check, run under the job group the event-log metrics sum over."""
        sc = self.spark.sparkContext

        def grouped():
            sc.setJobGroup(TRACED_GROUP, "perfbench traced pass")
            try:
                return one_pass()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        self.tracer.enabled = True
        with self.tracer.span("pass"):
            return self.run_pass(grouped)

    @contextmanager
    def untraced(self):
        """Spans off for the duration, e.g. for warm-up and reference
        passes inside the traced run."""
        was, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = was


def noop_count(df) -> int:
    """Materialise ``df`` completely into Spark's no-op sink and return its
    row count, observed in the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("perfbench")
    (df.observe(obs, F.count(F.lit(1)).alias("n"))
       .write.format("noop").mode("overwrite").save())
    return int(obs.get["n"])

"""Tests for the benchmark's own pieces: seeded inputs, output checks,
span self times, event-log parsing and the BENCHMARK.json contract.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs, procs
from perfbench.metrics import E2E, PER_LAYER
from perfbench.spans import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------


def test_transcripts_same_seed_same_rows_other_seed_other_rows():
    a = inputs.transcript_rows(7, 30, n_long=3)
    b = inputs.transcript_rows(7, 30, n_long=3)
    c = inputs.transcript_rows(8, 30, n_long=3)
    assert a == b
    assert a["text"] != c["text"]


def test_long_turn_lengths_do_not_depend_on_seed():
    def lengths(seed):
        cols = inputs.transcript_rows(seed, 40, n_long=4, long_lo=200,
                                      long_hi=500)
        return sorted(len(t.split(" ")) for t, r in zip(cols["text"], cols["tool"])
                      if r == "tool-output")

    assert lengths(1) == lengths(2) == [200, 300, 400, 500]


def test_long_turns_stay_in_their_stretch_of_the_corpus():
    for seed in range(5):
        convs = inputs.long_turn_convs(np.random.default_rng(seed), 96, 8)
        assert [c * 8 // 96 for c in convs] == list(range(8))


def test_ops_tables_same_seed_same_files_other_seed_other_files(tmp_path):
    sizes = {"n_docs": 60, "n_vecs": 30}
    paths = []
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        d = tmp_path / name
        d.mkdir()
        inputs.write_ops_tables(str(d), seed, **sizes)
        paths.append(d)
    for table in inputs.OPS_TABLES:
        a, b, c = (pq.read_table(p / f"{table}.parquet") for p in paths)
        assert a.equals(b)
        assert not a.equals(c)


def test_documents_have_the_sf_tables_shape():
    import numpy as np

    docs = inputs.documents(np.random.default_rng(2), 400).to_pydict()
    texts = docs["text"]
    copies = [t for t in texts if t.endswith(" dup")]
    assert len(copies) == 400 * inputs.NEAR_COPY_RATE
    assert all(t[:-len(" dup")] in texts for t in copies)
    words = [t.split(" ") for t in texts if not t.endswith(" dup")]
    assert all(inputs.DOC_WORDS_LO <= len(w) <= inputs.DOC_WORDS_HI for w in words)
    assert {x for w in words for x in w} <= set(inputs.DOC_WORDS)
    assert docs["n_chars"] == [len(t) for t in texts]


def test_cache_is_keyed_by_parameters(tmp_path):
    calls = []

    def build(path):
        calls.append(path)
        open(os.path.join(path, "x"), "w").close()

    p1 = inputs.cached(str(tmp_path), "t", {"seed": 1}, build)
    p2 = inputs.cached(str(tmp_path), "t", {"seed": 1}, build)
    p3 = inputs.cached(str(tmp_path), "t", {"seed": 2}, build)
    assert p1 == p2 != p3
    assert len(calls) == 2


# ---------------------------------------------------------------------------
# output checks: a planted wrong mention or triple must fail
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sampled():
    from autoner_spark import synth
    from autoner_spark.dictionary import build_trie

    cols = inputs.transcript_rows(11, 40)
    turns = checks.sample_turns(cols, 11, 25)
    expected = checks.oracle_spans(turns, build_trie(synth.dict_spec()))
    assert any(expected.values()), "sample must contain mentions"
    return expected


def test_span_check_accepts_the_oracle_output(sampled):
    got = {k: set(v) for k, v in sampled.items() if v}
    assert checks.span_problems(sampled, got) == []


def test_span_check_rejects_a_planted_wrong_mention(sampled):
    key = next(k for k, v in sampled.items() if v)
    got = {k: set(v) for k, v in sampled.items()}
    b, e, surface, etype = next(iter(got[key]))
    got[key].discard((b, e, surface, etype))
    got[key].add((b, e, surface, etype + ",Planted"))
    assert checks.span_problems(sampled, got)


def test_span_check_rejects_a_missing_or_extra_turn(sampled):
    key = next(k for k, v in sampled.items() if v)
    missing = {k: set(v) for k, v in sampled.items() if k != key}
    assert checks.span_problems(sampled, missing)
    extra = {**sampled, ("conv-999999", 0): {(0, 1, "x", "T")}}
    assert checks.span_problems(sampled, extra)


def test_sample_always_holds_the_longest_turn():
    cols = inputs.transcript_rows(5, 30, n_long=2, long_lo=300, long_hi=400)
    turns = checks.sample_turns(cols, 5, 3)
    assert max(len(t) for _, t in turns) == max(len(t) for t in cols["text"])


def test_triple_count_check_rejects_a_planted_triple():
    types = [("Operator", 10), ("Object,Operator", 3)]
    n = checks.triples_from_types(types)
    assert n == 10 * 2 + 3 * 3
    assert checks.count_problems("n_triples", n, n) == []
    assert checks.count_problems("n_triples", n, n + 1)


def test_table_check_rejects_a_planted_value_and_row():
    cols = ["name", "score"]
    rows = [("a", 0.5), ("b", 1.25)]
    want = checks.canon(rows, cols)
    assert checks.table_problems("q", cols, want, cols, checks.canon(rows, cols)) == []
    bad = [("a", 0.5), ("b", 1.26)]
    assert checks.table_problems("q", cols, want, cols, checks.canon(bad, cols))
    assert checks.table_problems("q", cols, want, cols,
                                 checks.canon(rows + [("c", 0.0)], cols))


def test_spark_fingerprint_rejects_a_planted_triple():
    pytest.importorskip("pyspark")
    from autoner_spark.session import get_spark

    spark = get_spark("perfbench-test", cores=1,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    schema = "subj string, pred string, obj string, conv_id string, turn_idx int"
    rows = [("ent:a", "has_type", "T", "c1", 0),
            ("ent:a", "mentioned_in", "c1#0", "c1", 0),
            ("ent:b", "has_type", "U", "c1", 1)]
    planted = rows[:2] + [("ent:b", "has_type", "V", "c1", 1)]
    try:
        fp = checks.spark_fingerprint(spark.createDataFrame(rows, schema))
        assert fp == checks.spark_fingerprint(
            spark.createDataFrame(list(reversed(rows)), schema))
        assert fp != checks.spark_fingerprint(
            spark.createDataFrame(planted, schema))
        assert fp != checks.spark_fingerprint(
            spark.createDataFrame(rows + rows[:1], schema))
    finally:
        spark.stop()


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


def test_self_times_subtract_children_and_are_never_negative():
    tr = Tracer(True)
    tr.spans = [
        Span(0, "root", 0.0, 10.0, None),
        Span(1, "a", 1.0, 4.0, 0),
        Span(2, "b", 3.0, 6.0, 0),      # overlaps a
        Span(3, "c", 9.0, 12.0, 0),     # runs past the parent's end
        Span(4, "a", 1.5, 2.0, 1),
    ]
    st = tr.self_times()
    assert st["root"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["a"] == pytest.approx(3.0 - 0.5 + 0.5)
    assert all(v >= 0 for v in st.values())


def test_self_times_never_negative_on_random_trees():
    rng = random.Random(0)
    for _ in range(200):
        spans = [Span(0, "root", 0.0, rng.uniform(1, 10), None)]
        for i in range(1, 12):
            parent = rng.randrange(i)
            s = rng.uniform(-1, 11)
            spans.append(Span(i, f"s{i % 4}", s, s + rng.uniform(0, 5), parent))
        tr = Tracer(True)
        tr.spans = spans
        assert all(v >= -1e-12 for v in tr.self_times().values())


def test_recorded_spans_nest_and_disabled_tracer_records_nothing(tmp_path):
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    assert all(s.end >= s.start for s in tr.spans)
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    assert [s["name"] for s in json.loads(path.read_text())] == ["outer", "inner"]
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def test_event_log_totals_only_the_traced_job_group(tmp_path):
    def task(stage, run_ms, py_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [
                    {"Name": "time to run Python workers", "Update": str(py_ms)}]},
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                                 "Memory Bytes Spilled": 0,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {
                                     "Shuffle Bytes Written": 1024 * 1024}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        task(1, 100, 40), task(2, 200, 0), task(3, 5000, 5000),
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events))
    (d / "appstatus_app").write_text("")
    m = procs.event_log_metrics(str(tmp_path), "g")
    assert m["spark.tasks"] == 2
    assert m["spark.executor_run_s"] == pytest.approx(0.3)
    assert m["spark.python_run_s"] == pytest.approx(0.04)
    assert m["spark.shuffle_write_mb"] == pytest.approx(2.0)


def test_event_log_keeps_stage_ids_of_two_apps_apart(tmp_path):
    """A second session in the same run writes its own log, and its stage
    IDs start at 0 again: its tasks must not count for the first app's
    job group."""
    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms}}

    traced = [{"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
               "Properties": {"spark.jobGroup.id": "g"}},
              task(0, 100), task(1, 200)]
    other = [{"Event": "SparkListenerJobStart", "Stage IDs": [0, 1, 2],
              "Properties": {}},
             task(0, 7000), task(1, 7000), task(2, 7000)]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in traced))
    (tmp_path / "local-2").write_text("\n".join(json.dumps(e) for e in other))
    m = procs.event_log_metrics(str(tmp_path), "g")
    assert m["spark.tasks"] == 2
    assert m["spark.executor_run_s"] == pytest.approx(0.3)


# ---------------------------------------------------------------------------
# BENCHMARK.json contract
# ---------------------------------------------------------------------------


def test_benchmark_json_mirrors_the_metric_tables():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert spec["paths"] == ["perfbench"]


def test_run_fails_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "chain_short",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert r.returncode != 0
    assert r.stdout.strip() == ""


def test_steal_seconds_sums_the_steal_column_of_the_given_cpus(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text(
        "cpu  900 0 90 9000 9 0 9 990 0 0\n"
        "cpu0 100 0 10 1000 1 0 1 100 0 0\n"
        "cpu1 100 0 10 1000 1 0 1 300 0 0\n"
        "cpu2 100 0 10 1000 1 0 1 590 0 0\n"
        "intr 12345\n")
    hz = os.sysconf("SC_CLK_TCK")
    assert procs.steal_seconds({0, 1}, str(stat)) == 400 / hz
    assert procs.steal_seconds({2}, str(stat)) == 590 / hz
    assert procs.steal_seconds({0}, str(tmp_path / "missing")) == 0.0

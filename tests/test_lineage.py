"""Resumable runs: kill a bucket, rerun, only that bucket recomputes; the
deploy job (tools/run_job.py) end to end on the shared session."""

import importlib.util
import json
import os
import shutil
from collections import Counter

import pytest

from autoner_spark import synth
from autoner_spark.catalog import TableCatalog
from autoner_spark.dictionary import build_trie
from autoner_spark.lineage import (
    bucketize_transcripts,
    completed_buckets,
    metrics_df,
    read_lineage,
    tag_resumable,
)
from autoner_spark.tagger import tag_transcripts
from autoner_spark.triples import build_kg

N_BUCKETS = 4


def _kill_bucket(out, table, bucket):
    """Undo one finished bucket as a failure before its lineage commit
    would leave it: its output directory and lineage row are gone."""
    shutil.rmtree(os.path.join(out, table, f"bucket={bucket}"))
    rows = [r for r in read_lineage(out) if r["bucket"] != bucket]
    with open(os.path.join(out, "lineage.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _jobs_of(spark, group, fn):
    """The ids of the Spark jobs ``fn()`` submits."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_skips_completed_buckets(spark, tmp_path):
    out = str(tmp_path / "run")
    trie = build_trie(synth.dict_spec())
    transcripts = synth.synth_transcripts(spark, 25, partitions=4)
    bucketize_transcripts(transcripts, out, N_BUCKETS)

    m1 = tag_resumable(spark, trie, out, N_BUCKETS)
    full = {tuple(r) for r in m1.drop("bucket").collect()}
    assert completed_buckets(out) == set(range(N_BUCKETS))
    lineage1 = read_lineage(out)
    assert len(lineage1) == N_BUCKETS
    assert sum(r["n_turns"] for r in lineage1) == transcripts.count()

    # baseline: direct tagging of the same corpus matches the bucketed run
    direct = {
        tuple(r) for r in tag_transcripts(transcripts, trie).collect()
    }
    assert full == direct

    # simulate a failed bucket: delete its output and lineage row
    victim = 2
    _kill_bucket(out, "mentions", victim)

    # record mtimes of surviving bucket outputs
    def mtimes():
        out_m = {}
        for b in range(N_BUCKETS):
            p = os.path.join(out, "mentions", f"bucket={b}")
            if os.path.exists(p):
                out_m[b] = max(
                    os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)
                )
        return out_m

    before = mtimes()
    m2 = tag_resumable(spark, trie, out, N_BUCKETS)
    after = mtimes()

    # only the victim was recomputed
    for b in range(N_BUCKETS):
        if b == victim:
            assert after[b] >= before.get(b, 0) or b not in before
        else:
            assert after[b] == before[b], f"bucket {b} was needlessly rewritten"

    assert {tuple(r) for r in m2.drop("bucket").collect()} == full
    assert completed_buckets(out) == set(range(N_BUCKETS))


def test_resume_tolerates_empty_buckets(spark, tmp_path):
    """A hash bucket that received zero conversations has no bucket=N
    directory; the resumable run must record it as completed-empty instead
    of aborting on PATH_NOT_FOUND."""
    out = str(tmp_path / "run")
    trie = build_trie(synth.dict_spec())
    transcripts = synth.synth_transcripts(spark, 3, partitions=2)
    n_buckets = 16  # >> n_convs: some buckets are guaranteed empty
    bucketize_transcripts(transcripts, out, n_buckets)

    m = tag_resumable(spark, trie, out, n_buckets)
    assert completed_buckets(out) == set(range(n_buckets))
    lineage = read_lineage(out)
    empties = [r for r in lineage if r["n_turns"] == 0]
    assert empties, "fixture should produce at least one empty bucket"
    assert all(r["n_rows"] == 0 for r in empties)
    assert sum(r["n_turns"] for r in lineage) == transcripts.count()

    direct = {tuple(r) for r in tag_transcripts(transcripts, trie).collect()}
    assert {tuple(r) for r in m.drop("bucket").collect()} == direct

    # rerun: nothing recomputes, nothing breaks
    m2 = tag_resumable(spark, trie, out, n_buckets)
    assert {tuple(r) for r in m2.drop("bucket").collect()} == direct
    assert len(read_lineage(out)) == n_buckets


def test_resume_refuses_fewer_buckets_than_the_layout(spark, tmp_path):
    """Tagging a layout cut into more buckets than the run has is refused
    before any job, as the higher buckets would never be tagged."""
    out = str(tmp_path / "run")
    bucketize_transcripts(synth.synth_transcripts(spark, 30, partitions=2),
                          out, N_BUCKETS)
    with pytest.raises(ValueError, match="beyond the run's 2 buckets"):
        tag_resumable(spark, build_trie(synth.dict_spec()), out, 2)
    assert read_lineage(out) == []


def test_metrics_table(spark, tmp_path):
    out = str(tmp_path / "run")
    trie = build_trie(synth.dict_spec())
    bucketize_transcripts(
        synth.synth_transcripts(spark, 8, partitions=2), out, 2
    )
    tag_resumable(spark, trie, out, 2)
    m = metrics_df(spark, out)
    rows = m.collect()
    assert {r.bucket for r in rows} == {0, 1}
    assert all(r.wall_ms >= 0 and r.n_turns > 0 for r in rows)


def _run_job_module():
    spec = importlib.util.spec_from_file_location(
        "run_job",
        os.path.join(os.path.dirname(__file__), "..", "tools", "run_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_run_job_writes_build_kg_triples_and_resumes(spark, tmp_path):
    """The deploy job (tools/run_job.py) on the shared session: its
    catalog's triples equal build_kg's over the same corpus, and a rerun
    skips every bucket and leaves the same triples."""
    run_job = _run_job_module()
    out = str(tmp_path / "job")
    args = run_job.parse_args(
        ["--out", out, "--n-convs", "60", "--buckets", str(N_BUCKETS)])
    want = Counter(tuple(r) for r in build_kg(
        spark, synth.synth_transcripts(spark, 60),
        synth.dict_spec())["triples"].collect())

    def triples():
        return Counter(tuple(r) for r in TableCatalog(spark, out).read(
            "triples").select("subj", "pred", "obj", "conv_id",
                              "turn_idx").collect())

    first = run_job.run(spark, args)
    assert first["buckets_skipped"] == []
    assert first["n_triples"] == sum(want.values())
    assert triples() == want

    second = run_job.run(spark, args)
    assert second["buckets_skipped"] == list(range(N_BUCKETS))
    assert triples() == want


def test_run_job_rerun_submits_no_spark_job(spark, tmp_path):
    """A rerun of a finished deploy job tags, links and rewrites nothing:
    it submits no Spark job, and its n_triples is the lineage rows'
    n_rows summed, which is the triples table's row count."""
    run_job = _run_job_module()
    out = str(tmp_path / "job")
    args = run_job.parse_args(
        ["--out", out, "--n-convs", "30", "--buckets", str(N_BUCKETS)])
    first = run_job.run(spark, args)

    report = {}
    assert _jobs_of(spark, "run-job-rerun",
                    lambda: report.update(run_job.run(spark, args))) == []
    assert report["buckets_skipped"] == list(range(N_BUCKETS))
    n_rows = sum(r["n_rows"] for r in read_lineage(out))
    assert n_rows > 0
    assert n_rows == report["n_triples"] == first["n_triples"] == (
        TableCatalog(spark, out).read("triples").count())


def test_run_job_redoes_only_a_killed_bucket(spark, tmp_path):
    """Kill one bucket of a finished deploy job (its triples directory
    and lineage row): the rerun runs that bucket's job alone, rewrites
    no other bucket's files, records every bucket once, and the table
    still holds build_kg's triples."""
    run_job = _run_job_module()
    out = str(tmp_path / "job")
    args = run_job.parse_args(
        ["--out", out, "--n-convs", "60", "--buckets", str(N_BUCKETS)])
    run_job.run(spark, args)
    victim = max(read_lineage(out), key=lambda r: r["n_rows"])["bucket"]
    _kill_bucket(out, "triples", victim)

    def mtimes():
        root = os.path.join(out, "triples")
        return {(d, f): os.path.getmtime(os.path.join(root, d, f))
                for d in os.listdir(root)
                if os.path.isdir(os.path.join(root, d))
                for f in os.listdir(os.path.join(root, d))}

    before = mtimes()
    jobs = _jobs_of(spark, "run-job-kill", lambda: run_job.run(spark, args))
    after = mtimes()

    # the bucketed transcripts' schema inference and the victim's job
    assert len(jobs) == 2, jobs
    redone = {k: t for k, t in after.items() if k not in before}
    assert redone and {d for d, _ in redone} == {f"bucket={victim}"}
    assert {k: after[k] for k in before} == before
    buckets = [r["bucket"] for r in read_lineage(out)]
    assert sorted(buckets) == list(range(N_BUCKETS))

    want = Counter(tuple(r) for r in build_kg(
        spark, synth.synth_transcripts(spark, 60),
        synth.dict_spec())["triples"].collect())
    got = Counter(tuple(r) for r in TableCatalog(spark, out).read(
        "triples").select("subj", "pred", "obj", "conv_id",
                          "turn_idx").collect())
    assert got == want


def test_run_job_refuses_fewer_buckets_on_resume(spark, tmp_path):
    """A resumed deploy job run with fewer --buckets than its layout was
    cut into is refused, and changes nothing: a rerun with the first
    count redoes the killed bucket and the table holds every triple."""
    run_job = _run_job_module()
    out = str(tmp_path / "job")

    def args(n):
        return run_job.parse_args(
            ["--out", out, "--n-convs", "60", "--buckets", str(n)])

    first = run_job.run(spark, args(N_BUCKETS))
    _kill_bucket(out, "triples", N_BUCKETS - 1)
    with pytest.raises(ValueError, match="beyond the run's 2 buckets"):
        run_job.run(spark, args(2))
    assert len(read_lineage(out)) == N_BUCKETS - 1

    again = run_job.run(spark, args(N_BUCKETS))
    assert again["buckets_skipped"] == list(range(N_BUCKETS - 1))
    assert again["n_triples"] == first["n_triples"] == (
        TableCatalog(spark, out).read("triples").count())

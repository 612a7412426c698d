"""The resumable job's per-bucket lineage counts ride on the bucket's one
tag+write job (Spark observations), not on extra count jobs."""

from collections import Counter

from pyspark.sql import functions as F

from autoner_spark import synth
from autoner_spark.dictionary import build_trie
from autoner_spark.lineage import (
    bucketize_transcripts,
    read_lineage,
    tag_resumable,
)
from autoner_spark.tagger import tag_transcripts


def test_tag_resumable_one_job_per_bucket_with_direct_counts(spark, tmp_path):
    sc = spark.sparkContext
    out = str(tmp_path / "run")
    n_buckets = 8
    trie = build_trie(synth.dict_spec())
    transcripts = synth.synth_transcripts(spark, 6, partitions=2)
    bucketize_transcripts(transcripts, out, n_buckets)

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    jobs = jobs_of("lineage-run", lambda: tag_resumable(spark, trie, out,
                                                        n_buckets))
    lineage = {r["bucket"]: r for r in read_lineage(out)}
    assert set(lineage) == set(range(n_buckets))

    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    turns = Counter(r.b for r in transcripts.select(bucket.alias("b"))
                    .collect())
    mentions = Counter(r.b for r in tag_transcripts(transcripts, trie)
                       .select(bucket.alias("b")).collect())
    assert 0 < len(turns) < n_buckets, "fixture needs empty buckets too"
    assert {b: r["n_turns"] for b, r in lineage.items()} == {
        b: turns[b] for b in range(n_buckets)}
    assert {b: r["n_rows"] for b, r in lineage.items()} == {
        b: mentions[b] for b in range(n_buckets)}

    # one tag+write job per non-empty bucket, plus the one schema
    # inference of the bucketed transcripts table; empty buckets run none
    assert len(jobs) == len(turns) + 1, jobs
    # a resume with every bucket done submits no job at all
    assert jobs_of("lineage-resume", lambda: tag_resumable(
        spark, trie, out, n_buckets)) == []

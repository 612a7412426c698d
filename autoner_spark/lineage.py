"""Resumable runs: per-partition lineage + metrics (north_rule requirement).

The reference has no notion of partial progress — `bin/generate` is rerun
from scratch. At 10^12 turns a tagging job WILL lose executors/retries, so
the pipeline is organized around **bucketed work units**:

1. transcripts are written once, hash-partitioned into ``bucket =
   pmod(xxhash64(conv_id), n_buckets)`` directories (Iceberg would make this
   a hidden-partition table; here: parquet ``partitionBy`` — the layout, not
   the catalog, is what matters);
2. each bucket is tagged by an independent, fully-parallel Spark job whose
   scan is PARTITION-PRUNED to that bucket (no re-scan of the corpus);
3. a bucket's output commit is atomic (parquet job commit) and is recorded
   in a lineage table row ``(bucket, n_turns, n_mentions, wall_ms,
   finished_at)``;
4. on restart, completed buckets are skipped by consulting the lineage
   table — idempotent, exactly-once per bucket.

Bucket count trades recovery granularity against scheduling overhead: at
cluster scale use O(10^3) buckets (each still thousands of tasks); locally
the tests use 4-8.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from . import tagvec
from .dictionary import TrieKB
from .tagger import tag_transcripts

LINEAGE_SCHEMA = (
    "bucket int, n_turns long, n_mentions long, wall_ms long, finished_at string"
)


def bucketize_transcripts(
    transcripts: DataFrame, out_dir: str, n_buckets: int
) -> None:
    """One-time ingest: hash-bucket by conv_id so (a) every later stage can
    partition-prune per bucket and (b) all turns of one conversation land in
    one bucket (stable (conv_id, turn_idx) order within files)."""
    (
        transcripts.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        )
        .repartition("bucket")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(out_dir, "transcripts"))
    )


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage.jsonl")


def read_lineage(out_dir: str) -> list[dict]:
    path = _lineage_path(out_dir)
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _append_lineage(out_dir: str, row: dict) -> None:
    with open(_lineage_path(out_dir), "a", encoding="utf-8") as f:
        f.write(json.dumps(row) + "\n")


def completed_buckets(out_dir: str) -> set[int]:
    return {r["bucket"] for r in read_lineage(out_dir)}


def tag_resumable(
    spark: SparkSession,
    trie: TrieKB,
    out_dir: str,
    n_buckets: int,
) -> DataFrame:
    """Tag all incomplete buckets; skip completed ones; return the full
    mentions DataFrame. Each bucket is ONE job (tag + write, internally
    fully parallel) whose scan is partition-pruned to that bucket's
    directory; its lineage counts are observed on that same job."""
    done = completed_buckets(out_dir)
    base = os.path.join(out_dir, "transcripts")
    mentions_dir = os.path.join(out_dir, "mentions")
    transcripts = None  # opened (one schema-inference job) on first use
    for bucket in range(n_buckets):
        if bucket in done:
            continue
        bucket_dir = os.path.join(base, f"bucket={bucket}")
        if not os.path.isdir(bucket_dir):
            # a hash bucket that received zero conversations writes no
            # partition directory; record it as completed-empty instead of
            # aborting the whole resumable run on PATH_NOT_FOUND.
            _append_lineage(
                out_dir,
                {
                    "bucket": bucket,
                    "n_turns": 0,
                    "n_mentions": 0,
                    "wall_ms": 0,
                    "finished_at": datetime.now(timezone.utc).isoformat(),
                },
            )
            continue
        if transcripts is None:
            transcripts = spark.read.parquet(base)
        # both counts are observed on the bucket's one tag+write job
        turns, found = Observation(), Observation()
        sub = transcripts.filter(F.col("bucket") == bucket).observe(
            turns, F.count(F.lit(1)).alias("n"))
        t0 = time.perf_counter()
        tag_transcripts(sub, trie).observe(
            found, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(
            os.path.join(mentions_dir, f"bucket={bucket}")
        )
        wall_ms = int((time.perf_counter() - t0) * 1000)
        _append_lineage(
            out_dir,
            {
                "bucket": bucket,
                "n_turns": turns.get["n"],
                "n_mentions": found.get["n"],
                "wall_ms": wall_ms,
                "finished_at": datetime.now(timezone.utc).isoformat(),
            },
        )
    # partition discovery over the bucket=N directories (no globs: literal
    # base-path reads behave identically on local FS and object stores);
    # the known schema spares a schema-inference job
    return spark.read.schema(
        from_arrow_schema(tagvec.OUT_SCHEMA)).parquet(mentions_dir)


def metrics_df(spark: SparkSession, out_dir: str) -> DataFrame:
    rows = read_lineage(out_dir)
    if not rows:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.createDataFrame(
        [
            (r["bucket"], r["n_turns"], r["n_mentions"], r["wall_ms"],
             r["finished_at"])
            for r in rows
        ],
        LINEAGE_SCHEMA,
    )

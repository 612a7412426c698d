"""Resumable runs: per-partition lineage + metrics (north_rule requirement).

The reference has no notion of partial progress — `bin/generate` is rerun
from scratch. At 10^12 turns a tagging job WILL lose executors/retries, so
the pipeline is organized around **bucketed work units**:

1. transcripts are written once, hash-partitioned into ``bucket =
   pmod(xxhash64(conv_id), n_buckets)`` directories (Iceberg would make this
   a hidden-partition table; here: parquet ``partitionBy`` — the layout, not
   the catalog, is what matters);
2. each bucket is tagged by an independent, fully-parallel Spark job whose
   scan is PARTITION-PRUNED to that bucket (no re-scan of the corpus): one
   ``tagger.tag_stage`` of a tagvec emitter over one broadcast automaton,
   writing ``<table>/bucket=N`` (``tag_resumable``: the mentions;
   tools/run_job.py: ``build_kg``'s triples);
3. a bucket's output commit is atomic (parquet job commit) and is recorded
   in a lineage table row ``(bucket, n_turns, n_rows, wall_ms,
   finished_at)``: the turns the bucket's scan read and the rows its write
   committed, both observed on that one job;
4. on restart, completed buckets are skipped by consulting the lineage
   table — idempotent, exactly-once per bucket. A run with fewer buckets
   than the layout was cut into is refused, as it would never tag the
   higher ones.

The lineage table names buckets, not tables, so one ``out_dir`` holds one
bucketed output table: a run of ``tag_resumable`` and one of the deploy job
must not share it.

Bucket count trades recovery granularity against scheduling overhead: at
cluster scale use O(10^3) buckets (each still thousands of tasks); locally
the tests use 4-8.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from . import tagvec
from .dictionary import TrieKB
from .tagger import broadcast_automaton, tag_stage

LINEAGE_SCHEMA = (
    "bucket int, n_turns long, n_rows long, wall_ms long, finished_at string"
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


def tag_buckets(
    spark: SparkSession,
    out_dir: str,
    n_buckets: int,
    table: str,
    broadcast_vec,
    emit,
    schema: pa.Schema,
) -> DataFrame:
    """Run the tagvec emitter ``emit`` (output ``schema``) over every
    bucket not done yet, each bucket ONE job (tag + write to
    ``out_dir/<table>/bucket=N``, internally fully parallel) whose scan is
    partition-pruned to that bucket's directory and whose lineage counts
    are observed on that same job; return the whole table. The automaton
    is compiled and broadcast once, by ``broadcast_vec()``, and only if a
    bucket has turns to tag.

    Raises ValueError, before any job, when the layout holds a bucket
    numbered ``n_buckets`` or higher: this run would never tag it."""
    done = completed_buckets(out_dir)
    base = os.path.join(out_dir, "transcripts")
    cut = [int(d.removeprefix("bucket="))
           for d in (os.listdir(base) if os.path.isdir(base) else ())
           if d.startswith("bucket=")]
    if max(cut, default=-1) >= n_buckets:
        raise ValueError(f"{base} holds bucket={max(cut)}, beyond the "
                         f"run's {n_buckets} buckets")
    table_dir = os.path.join(out_dir, table)
    transcripts = bc_vec = None  # opened on the first bucket with turns
    for bucket in range(n_buckets):
        if bucket in done:
            continue
        n_turns = n_rows = wall_ms = 0
        # a hash bucket that received zero conversations writes no
        # partition directory; it is recorded as completed-empty instead
        # of aborting the whole resumable run on PATH_NOT_FOUND
        if os.path.isdir(os.path.join(base, f"bucket={bucket}")):
            if transcripts is None:
                transcripts = spark.read.parquet(base)  # schema inference
                bc_vec = broadcast_vec()
            turns, rows = Observation(), Observation()
            sub = transcripts.filter(F.col("bucket") == bucket).select(
                "conv_id", "turn_idx", "text").observe(
                    turns, F.count(F.lit(1)).alias("n"))
            t0 = time.perf_counter()
            tag_stage(sub, bc_vec, emit, schema).observe(
                rows, F.count(F.lit(1)).alias("n")
            ).write.mode("overwrite").parquet(
                os.path.join(table_dir, f"bucket={bucket}"))
            wall_ms = int((time.perf_counter() - t0) * 1000)
            n_turns, n_rows = turns.get["n"], rows.get["n"]
        _append_lineage(out_dir, {
            "bucket": bucket,
            "n_turns": n_turns,
            "n_rows": n_rows,
            "wall_ms": wall_ms,
            "finished_at": datetime.now(timezone.utc).isoformat(),
        })
    # partition discovery over the bucket=N directories (no globs: literal
    # base-path reads behave identically on local FS and object stores);
    # the known schema spares a schema-inference job
    return spark.read.schema(from_arrow_schema(schema)).parquet(table_dir)


def tag_resumable(
    spark: SparkSession,
    trie: TrieKB,
    out_dir: str,
    n_buckets: int,
) -> DataFrame:
    """Tag all incomplete buckets; skip completed ones; return the full
    mentions DataFrame (``tag_buckets`` with ``tag_transcripts``'
    emitter, table ``mentions``)."""
    return tag_buckets(
        spark, out_dir, n_buckets, "mentions",
        lambda: broadcast_automaton(spark, trie),
        tagvec.tag_record_batch, tagvec.OUT_SCHEMA)


def metrics_df(spark: SparkSession, out_dir: str) -> DataFrame:
    rows = read_lineage(out_dir)
    if not rows:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.createDataFrame(
        [
            (r["bucket"], r["n_turns"], r["n_rows"], r["wall_ms"],
             r["finished_at"])
            for r in rows
        ],
        LINEAGE_SCHEMA,
    )

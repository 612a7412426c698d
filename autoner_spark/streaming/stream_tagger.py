"""Structured Streaming front-end for the distant-supervision tagger.

The reference is strictly batch (generate.cpp runs over a closed file). At
transcript-firehose scale the same tagger runs as a streaming stage: the
tagging `mapInArrow` is stateless and copies ``ts`` onto each mention, so it
lifts onto a streaming DataFrame unchanged — readStream (file source here; Kafka/Iceberg CDC in production)
-> tag -> windowed, watermarked aggregation or append sink.

Late data: mention_rate uses an event-time watermark on ``ts`` so state for
closed windows is dropped — mandatory at 10^12-turn scale or state grows
without bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dictionary import TrieKB
from ..synth import TRANSCRIPTS_DDL
from ..tagger import tag_transcripts


def read_transcripts_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPTS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def tag_stream(stream: DataFrame, trie: TrieKB) -> DataFrame:
    """Streaming mentions (with event-time ts carried for watermarking)."""
    return tag_transcripts(stream, trie, passthrough=("ts",))


def mention_rate(mentions_stream: DataFrame, window: str = "1 minute",
                 watermark: str = "2 minutes") -> DataFrame:
    """Mentions per entity_type per event-time window, watermarked."""
    return (
        mentions_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "entity_type")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "entity_type",
            "n_mentions",
        )
    )


def run_available_now(df: DataFrame, query_name: str, checkpoint_dir: str,
                      output_mode: str = "append", wait: bool = True):
    """Drain everything currently available into an in-memory table and
    stop — the batch-equivalence harness for tests.

    ``wait=False`` returns the running query instead of blocking: REQUIRED
    for stateful queries with ProcessingTimeTimeout, which availableNow
    never self-terminates (timeout-servicing batches keep it alive after
    the source drains) — the caller polls the sink and stops the query."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if wait:
        q.awaitTermination()
    return q

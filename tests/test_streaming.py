"""Streaming tagger == batch tagger; watermarked window agg == batch agg."""

from autoner_spark import synth
from autoner_spark.dictionary import build_trie
from autoner_spark.streaming.stream_tagger import (
    mention_rate,
    read_transcripts_stream,
    run_available_now,
    tag_stream,
)
from autoner_spark.tagger import tag_transcripts

from pyspark.sql import functions as F


def _write_corpus(spark, tmp_path, n_convs=12):
    path = str(tmp_path / "transcripts")
    synth.synth_transcripts(spark, n_convs, partitions=3).write.parquet(path)
    return path


def test_stream_tag_equals_batch(spark, tmp_path):
    path = _write_corpus(spark, tmp_path)
    trie = build_trie(synth.dict_spec())

    stream = read_transcripts_stream(spark, path, max_files_per_trigger=1)
    assert stream.isStreaming
    mentions = tag_stream(stream, trie)
    run_available_now(mentions, "stream_mentions", str(tmp_path / "ck1"))
    got = {
        tuple(r)
        for r in spark.table("stream_mentions").drop("ts").collect()
    }

    batch = tag_transcripts(spark.read.parquet(path), trie)
    want = {tuple(r) for r in batch.collect()}
    assert got == want and got


def test_windowed_mention_rate_matches_batch(spark, tmp_path):
    path = _write_corpus(spark, tmp_path)
    trie = build_trie(synth.dict_spec())

    stream_counts = mention_rate(
        tag_stream(read_transcripts_stream(spark, path), trie)
    )
    run_available_now(
        stream_counts, "stream_rate", str(tmp_path / "ck2"), output_mode="append"
    )
    # append mode emits only closed windows; compare those against batch
    got = {
        (r.window_start, r.window_end, r.entity_type, r.n_mentions)
        for r in spark.table("stream_rate").collect()
    }

    batch_mentions = tag_transcripts(
        spark.read.parquet(path), trie, passthrough=("ts",)
    )
    batch_counts = (
        batch_mentions.groupBy(F.window("ts", "1 minute").alias("w"), "entity_type")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "entity_type",
            "n_mentions",
        )
    )
    want = {
        (r.window_start, r.window_end, r.entity_type, r.n_mentions)
        for r in batch_counts.collect()
    }
    assert got, "stream emitted no closed windows"
    assert got.issubset(want)

def test_stream_dedup_bounded_state(spark, tmp_path):
    """Streaming exact dedup via dropDuplicatesWithinWatermark: duplicates
    split across micro-batches are suppressed by cross-batch state (bounded
    by the watermark horizon, not corpus history); output = one first-seen
    row per distinct text."""
    import datetime

    from autoner_spark.streaming.dedup import dedup_stream

    rows = [
        (i, f"text {i % 5}", datetime.datetime(2026, 1, 1, 0, i % 7))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    path = str(tmp_path / "docs")
    df.repartition(8).write.parquet(path)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(path)
    )
    out = dedup_stream(stream, horizon="1 hour")
    assert out.isStreaming
    run_available_now(out, "stream_dedup", str(tmp_path / "ck_dedup"))
    got = spark.table("stream_dedup").select("text").collect()
    assert sorted(r.text for r in got) == [f"text {k}" for k in range(5)]

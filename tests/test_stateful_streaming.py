"""applyInPandasWithState operator: streaming totals == batch totals."""

from pyspark.sql import functions as F

from autoner_spark import synth
from autoner_spark.dictionary import build_trie
from autoner_spark.streaming.stateful import conversation_state
from autoner_spark.streaming.stream_tagger import (
    read_transcripts_stream,
    run_available_now,
    tag_stream,
)
from autoner_spark.tagger import tag_transcripts


def test_stateful_conversation_totals(spark, tmp_path):
    path = str(tmp_path / "in")
    # spread each conversation across files so per-file micro-batches
    # exercise state ACROSS batches
    synth.synth_transcripts(spark, 10, partitions=4).repartition(
        6, "turn_idx"
    ).write.parquet(path)
    trie = build_trie(synth.dict_spec())

    # several micro-batches so state carries ACROSS batches
    stream = read_transcripts_stream(spark, path, max_files_per_trigger=1)
    mentions = tag_stream(stream, trie)
    totals = conversation_state(mentions.drop("ts"))
    run_available_now(
        totals, "conv_state", str(tmp_path / "ck"), output_mode="update"
    )
    # update mode re-emits a conversation each time it changes; the LAST
    # emission (max totals — they only grow) is the final state
    got = {
        r.conv_id: (r.n_mentions, r.n_distinct_surfaces)
        for r in spark.table("conv_state")
        .groupBy("conv_id")
        .agg(
            F.max("n_mentions").alias("n_mentions"),
            F.max("n_distinct_surfaces").alias("n_distinct_surfaces"),
        )
        .collect()
    }

    batch = tag_transcripts(spark.read.parquet(path), trie)
    want = {
        r.conv_id: (r.n, r.d)
        for r in batch.groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("surface").alias("d"),
        )
        .collect()
    }
    assert got == want and got

    # state really did span multiple micro-batches: at least one conv was
    # emitted more than once
    emissions = (
        spark.table("conv_state").groupBy("conv_id").count().collect()
    )
    assert any(r["count"] > 1 for r in emissions)


def test_state_eviction_timeout(spark, tmp_path):
    """ProcessingTimeTimeout eviction: a conversation that goes dormant is
    emitted as a terminal evicted=true row and its state removed."""
    import os

    import glob
    import shutil
    import time

    path = str(tmp_path / "in")
    os.makedirs(path)
    trie = build_trie(synth.dict_spec())
    t = synth.synth_transcripts(spark, 4, partitions=1)
    convs = sorted(r.conv_id for r in t.select("conv_id").distinct().collect())
    dormant, active = convs[0], convs[1:]

    # plain parquet FILES in one flat dir (the file stream source does not
    # recurse into write.parquet directories), written via Spark so the ts
    # physical type matches, mtime-spaced for stable listing order: file 0
    # carries the dormant conv; later files only the active ones, so the
    # dormant conv's 1ms timeout fires during a later micro-batch
    def write_one(conv, name):
        staging = str(tmp_path / f"stage_{name}")
        t.filter(F.col("conv_id") == conv).coalesce(1).write.parquet(staging)
        part = glob.glob(staging + "/part-*.parquet")[0]
        shutil.move(part, path + f"/{name}.parquet")
        time.sleep(0.05)

    write_one(dormant, "f0")
    for i, c in enumerate(active, start=1):
        write_one(c, f"f{i}")

    stream = read_transcripts_stream(spark, path, max_files_per_trigger=1)
    mentions = tag_stream(stream, trie)
    totals = conversation_state(mentions.drop("ts"), evict_after_ms=1)
    # a timeout-armed query never self-terminates under availableNow
    # (timeout-servicing batches keep it alive): poll the sink, then stop
    q = run_available_now(
        totals, "conv_evict", str(tmp_path / "ck"), output_mode="update",
        wait=False,
    )
    try:
        deadline = time.time() + 90
        evicted = []
        while time.time() < deadline:
            rows = spark.table("conv_evict").collect()
            evicted = [r for r in rows if r.evicted and r.conv_id == dormant]
            if evicted:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert evicted, "dormant conversation was never evicted"
    # the terminal row carries the dormant conv's full totals
    batch = tag_transcripts(
        spark.read.parquet(path).filter(F.col("conv_id") == dormant), trie
    )
    want_n = batch.count()
    assert evicted[0].n_mentions == want_n
    live = [r for r in rows if r.conv_id == dormant and not r.evicted]
    assert live and max(r.n_mentions for r in live) == want_n

"""End-to-end composition of all three streaming modules in ONE query:
bounded-state dedup -> distributed tagger -> stateful per-conversation
accumulation with eviction. The closest thing to a gate row a streaming
pipeline can have: terminal rows asserted against the batch replay of the
same (deduplicated) input.
"""

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from autoner_spark import synth
from autoner_spark.dictionary import build_trie
from autoner_spark.streaming.dedup import dedup_stream
from autoner_spark.streaming.stateful import conversation_state
from autoner_spark.streaming.stream_tagger import (
    read_transcripts_stream,
    run_available_now,
    tag_stream,
)
from autoner_spark.tagger import tag_transcripts


def test_streaming_dedup_tag_state_composed(spark, tmp_path):
    path = str(tmp_path / "in")
    os.makedirs(path)
    trie = build_trie(synth.dict_spec())
    t = synth.synth_transcripts(spark, 4, partitions=1)
    convs = sorted(r.conv_id for r in t.select("conv_id").distinct().collect())
    dormant, active = convs[0], convs[1:]

    # flat parquet files, mtime-spaced for stable listing (one micro-batch
    # per file): f0 = the dormant conv; f1 = the SAME rows re-sent (the
    # crawler-retry duplicate the dedup stage must drop — same ts, same
    # text); later files = the active convs
    def write_one(df, name):
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(staging)
        part = glob.glob(staging + "/part-*.parquet")[0]
        shutil.move(part, path + f"/{name}.parquet")
        time.sleep(0.05)

    d0 = t.filter(F.col("conv_id") == dormant)
    write_one(d0, "f0")
    write_one(d0, "f1_dup")  # exact duplicate batch
    for i, c in enumerate(active, start=2):
        write_one(t.filter(F.col("conv_id") == c), f"f{i}")

    # ONE streaming query: dedup (bounded state, watermark horizon) ->
    # stateless tag -> stateful accumulate (eviction armed)
    stream = read_transcripts_stream(spark, path, max_files_per_trigger=1)
    # dedup on the full turn identity: same conv/turn/text re-sent == dup
    keyed = stream.withColumn(
        "text",
        F.concat_ws("\x1f", "conv_id", F.col("turn_idx").cast("string"),
                    "text"),
    )
    deduped = dedup_stream(keyed, text_col="text", ts_col="ts",
                           horizon="1 hour").withColumn(
        "text", F.substring_index("text", "\x1f", -1)
    ).drop("text_hash")
    mentions = tag_stream(deduped, trie)
    totals = conversation_state(mentions.drop("ts"), evict_after_ms=1)

    q = run_available_now(
        totals, "composed_state", str(tmp_path / "ck"), output_mode="update",
        wait=False,
    )
    try:
        deadline = time.time() + 120
        evicted, rows = [], []
        while time.time() < deadline:
            rows = spark.table("composed_state").collect()
            evicted = [r for r in rows if r.evicted and r.conv_id == dormant]
            if evicted:
                break
            time.sleep(1)
    finally:
        q.stop()

    assert evicted, "dormant conversation was never evicted"
    # terminal totals == batch replay of the DEDUPED input: the duplicate
    # batch f1_dup must contribute nothing
    batch = tag_transcripts(
        spark.read.parquet(path + "/f0.parquet"), trie
    )
    want = batch.count()
    assert want > 0 and evicted[0].n_mentions == want
    # and the double-size naive replay (dup NOT dropped) differs, proving
    # the dedup stage did real work in the composition
    naive = tag_transcripts(spark.read.parquet(path), trie).filter(
        F.col("conv_id") == dormant
    ).count()
    assert naive == 2 * want

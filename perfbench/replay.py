"""Out-of-Spark replay of a workload's Arrow batches through tagvec.

    python3 -m perfbench.replay <maxRecordsPerBatch> <parquet file>...

Runs as a process of its own so its ``VmHWM`` is this replay's peak alone;
prints one JSON object.
Each parquet file is one scan split; it is cut into batches of the
session's ``maxRecordsPerBatch`` rows, as the Spark Python worker receives
them, and each batch goes through ``tagvec.tag_record_batch``.
"""

from __future__ import annotations

import json
import os
import sys
import time

from .procs import vm_hwm_mb


def replay(files: list[str], max_records: int) -> dict:
    import pyarrow.parquet as pq

    from autoner_spark import synth, tagger, tagvec
    from autoner_spark.dictionary import build_trie
    from autoner_spark.textutil import tokenize_turn

    vec = tagvec.compile_vec(tagger.compile_trie(
        build_trie(synth.bench_dict_spec())))

    batch_s: list[float] = []
    tokens = turns = matched = max_tokens = 0
    for path in files:
        table = pq.read_table(path, columns=["conv_id", "turn_idx", "text"])
        for batch in table.to_batches(max_chunksize=max_records):
            t = time.perf_counter()
            out = tagvec.tag_record_batch(batch, vec)
            batch_s.append(time.perf_counter() - t)
            lens = [len(tokenize_turn(x)) if x else 0
                    for x in batch.column(2).to_pylist()]
            tokens += sum(lens)
            max_tokens = max(max_tokens, *lens)
            turns += batch.num_rows
            matched += len(set(zip(out.column(0).to_pylist(),
                                   out.column(1).to_pylist())))
    return {
        "batch_s": batch_s,
        "tokens": tokens,
        "turns": turns,
        "matched_turns": matched,
        "max_turn_tokens": max_tokens,
        # VmHWM, not ru_maxrss: a child's ru_maxrss keeps the forked
        # parent's peak across exec, this process's VmHWM does not
        "rss_mb": vm_hwm_mb(os.getpid()),
    }


if __name__ == "__main__":
    print(json.dumps(replay(sys.argv[2:], int(sys.argv[1]))))

"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(seed, parameters)``: the chain corpora
come from ``autoner_spark.synth.turn_row`` (the library's own deterministic
transcript generator), the operator tables from a NumPy generator seeded
with ``seed``. Inputs are written once as parquet under the cache directory,
keyed by a hash of the generator version, the seed and the parameters, so a
second run with the same seed reuses them. Generation is not timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from autoner_spark import synth

GEN_VERSION = 4

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def cached(cache_root: str, name: str, params: dict, build) -> str:
    """Directory holding the input ``name`` for ``params``; ``build(path)``
    fills a fresh directory the first time, which is then renamed into
    place so a killed run never leaves a half-written input behind."""
    key = json.dumps({"v": GEN_VERSION, **params}, sort_keys=True)
    digest = hashlib.sha1(key.encode()).hexdigest()[:16]
    path = os.path.join(cache_root, f"{name}-{digest}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path


# ---------------------------------------------------------------------------
# transcripts (chain_short, chain_long)
# ---------------------------------------------------------------------------


def long_turn_lengths(n_long: int, lo: int, hi: int) -> list[int]:
    """Fixed token counts from ``lo`` to ``hi``: the seed moves the long
    turns around the corpus, never their lengths, so the longest turn (and
    with it the DP table of its batch) is the same for every seed."""
    if n_long <= 1:
        return [hi] * n_long
    return [lo + (hi - lo) * i // (n_long - 1) for i in range(n_long)]


def long_turn_convs(rng: np.random.Generator, n_convs: int,
                    n_long: int) -> list[int]:
    """The conversation of each long turn: the i-th in a seed-chosen
    conversation of the i-th of ``n_long`` equal stretches of the corpus.
    The stretches, and with them the scan splits the long turns land in,
    are the same for every seed, so the seed does not move the slowest
    task of the tagging stage."""
    return [i * n_convs // n_long
            + int(rng.integers(0, max(1, n_convs // n_long)))
            for i in range(n_long)]


def transcript_rows(seed: int, n_convs: int, n_long: int = 0,
                    long_lo: int = 2000, long_hi: int = 8000) -> dict:
    """Column dict of the corpus: ``n_convs`` synthetic conversations of
    BC5CDR-sentence-like turns, plus ``n_long`` tool-output turns appended
    to conversations spread evenly over the corpus."""
    rng = np.random.default_rng(seed)
    long_at: dict[int, list[int]] = {}
    for c, length in zip(long_turn_convs(rng, n_convs, n_long),
                         long_turn_lengths(n_long, long_lo, long_hi)):
        long_at.setdefault(c, []).append(length)
    cols: dict[str, list] = {f.name: [] for f in TRANSCRIPT_SCHEMA}

    def add(row: dict) -> None:
        for k in cols:
            cols[k].append(row[k])

    for c in range(n_convs):
        # the turn count per conversation is the library's default-seed
        # one, so every seed gives the same number of turns (and the same
        # turns_per_s for the same pass time); the text is the seed's
        n_turns = synth.turns_for_conv(c)
        for t in range(n_turns):
            add(synth.turn_row(c, t, seed, min_frags=12, rng_frags=30))
        for j, length in enumerate(long_at.get(c, [])):
            t = n_turns + j
            row = synth.turn_row(c, t, seed, min_frags=length, rng_frags=1)
            row["text"] = " ".join(row["text"].split(" ")[:length])
            row["role"], row["tool"] = "tool", "tool-output"
            add(row)
    return cols


def write_transcripts(path: str, cols: dict, n_files: int) -> None:
    """Write the corpus as ``n_files`` equal parquet files, one scan split
    each (see ``split_conf``)."""
    table = pa.table(cols, schema=TRANSCRIPT_SCHEMA)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:03d}.parquet"))


SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes",
               "spark.sql.files.openCostInBytes")


def split_conf(path: str) -> dict[str, str]:
    """SQL confs that make every parquet file under ``path`` exactly one
    scan split: no file is cut and no two files are packed together."""
    largest = max(os.path.getsize(os.path.join(path, f))
                  for f in os.listdir(path) if f.endswith(".parquet"))
    return dict.fromkeys(SPLIT_CONFS, str(largest + 1))


def transcripts(cache_root: str, seed: int, n_convs: int, n_files: int,
                n_long: int = 0) -> str:
    params = {"seed": seed, "n_convs": n_convs, "n_files": n_files,
              "n_long": n_long}
    return cached(
        cache_root, "transcripts", params,
        lambda p: write_transcripts(
            p, transcript_rows(seed, n_convs, n_long), n_files),
    )


# ---------------------------------------------------------------------------
# operator tables (the operator-leaf probe)
# ---------------------------------------------------------------------------

OPS_TABLES = ("documents", "embeddings")

# the 30-word vocabulary of the sf test tables' documents; KG_DICT_CORE
# surfaces ("hash join", "table scan", ...) are two-word runs over it
DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20
DOC_WORDS_LO, DOC_WORDS_HI = 10, 100
NEAR_COPY_RATE = 0.05
EMBED_DIM, N_LABELS = 64, 10


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Documents shaped like the sf test tables' ``documents``: 10 to 100
    words drawn uniformly from DOC_WORDS, and one in twenty a near copy of
    another document (its text plus a trailing ``dup``), so the dedup
    leaves find pairs."""
    lengths = rng.integers(DOC_WORDS_LO, DOC_WORDS_HI + 1, n_docs)
    texts = [" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), n))
             for n in lengths]
    base = list(texts)
    for i in rng.choice(n_docs, int(NEAR_COPY_RATE * n_docs), replace=False):
        j = (int(i) + int(rng.integers(1, n_docs))) % n_docs
        texts[i] = base[j] + " dup"
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Random unit float32 vectors with uniform labels that carry no
    signal, like the sf test tables' ``embeddings``."""
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32()),
    })


def write_ops_tables(path: str, seed: int, n_docs: int, n_vecs: int) -> None:
    rng = np.random.default_rng(seed)
    tables = {"documents": documents(rng, n_docs),
              "embeddings": embeddings(rng, n_vecs)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))


def ops_tables(cache_root: str, seed: int, n_docs: int, n_vecs: int) -> str:
    params = {"seed": seed, "n_docs": n_docs, "n_vecs": n_vecs}
    return cached(cache_root, "ops", params,
                  lambda p: write_ops_tables(p, seed, n_docs, n_vecs))

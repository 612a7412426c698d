"""Deterministic synthetic transcripts + dictionaries (no external data).

BASELINE.json's input_hint fixes the input shape: an Iceberg/parquet table of
multi-turn conversation transcripts ``(conv_id string, turn_idx int32, role
string, text string, tool string, ts timestamp)``. The sandbox test data has
no such table, so this module synthesizes one — **as a pure function of
(seed, conv_idx, turn_idx)** — in two equivalent ways:

* ``local_rows``: plain Python rows, used by the single-node oracle tests;
* ``synth_transcripts``: distributed generation via ``spark.range`` +
  ``mapInPandas`` calling the SAME pure functions, so the distributed table
  is byte-identical to the local one regardless of partitioning. No
  collect(), no driver-side materialization — generation scales to any row
  count.

The closed vocabulary deliberately exercises every edge in FIXTURES.md §6:
multi-token core surfaces, overlapping core/full phrases, case variants
(raw / ALL-UPPER / all-lower insert forms, annotation.h:99-138), PER/ORG/LOC
no-lowercase surfaces (annotation.h:195), stopwords, single-char separators
(utils.h:161), a hot conversation and a hot entity for skew paths.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

from . import pyworker
from .dictionary import DictionarySpec

DEFAULT_SEED = 42
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

# --------------------------------------------------------------------------
# Dictionary (deterministic constant — the "domain KB")
# --------------------------------------------------------------------------


def dict_spec() -> DictionarySpec:
    """Core/full/stopword dictionaries mirroring the reference's file
    semantics (dict_core.txt TSV with comma type lists, dict_full.txt lines,
    stopwords.txt lines)."""
    core = [
        ("Operator", "hash join"),
        ("Operator", "sort merge join"),
        ("Operator", "table scan"),
        ("Operator", "window agg"),
        ("Operator", "shuffle"),
        ("Operator", "scan"),
        ("Operator", "scan filter"),
        ("Object", "big table"),
        ("Object", "small table"),
        ("Object", "row group"),
        ("Object", "the vector"),
        ("Object,Operator", "stream"),
        ("Metric", "row count"),
        ("ORG", "Spark Foundation"),
        ("PER", "Ada Lovelace"),
    ]
    full = [
        "query plan",
        "fast scan",
        "group by",
        "hash join",  # overlaps core — core types win (annotation.h:63,78,93)
        "slow merge",
        "merge batch",
        "vector clock",
        "window",
        "the",
    ]
    stopwords = ["the", "a", "of", "and"]
    return DictionarySpec(core=core, full=full, stopwords=stopwords)


# --------------------------------------------------------------------------
# Text generation (pure functions of (seed, conv_idx, turn_idx))
# --------------------------------------------------------------------------

# Fragment pool: each entry is a token tuple; repeats = higher weight.
# "shuffle" is the deliberately hot entity.
_FRAGMENTS: list[tuple[str, ...]] = [
    ("the",), ("a",), ("of",), ("and",),
    ("query",), ("data",), ("key",), ("value",), ("order",), ("group",),
    ("line",), ("column",), ("batch",), ("merge",), ("sort",), ("row",),
    ("filter",), ("spark",), ("table",), ("customer",), ("agg",), ("hash",),
    ("join",), ("scan",), ("window",), ("stream",), ("vector",), ("big",),
    ("small",), ("fast",), ("slow",),
    (",",), (".",), ("(",), (")",), ("!",), ("?",),
    ("hash", "join"), ("hash", "join"),
    ("HASH", "JOIN"),
    ("Hash", "Join"),           # mixed case — never inserted, never matches
    ("sort", "merge", "join"),
    ("table", "scan"), ("table", "scan"),
    ("window", "agg"),
    ("shuffle",), ("shuffle",), ("shuffle",), ("shuffle",),  # hot entity
    ("SHUFFLE",),
    ("big", "table"), ("small", "table"), ("row", "group"), ("row", "count"),
    ("the", "vector"), ("vector", "clock"),
    ("scan", "filter"),
    ("stream",), ("STREAM",),
    ("query", "plan"), ("fast", "scan"), ("group", "by"), ("slow", "merge"),
    ("merge", "batch"),
    ("Spark", "Foundation"), ("spark", "foundation"),  # 2nd never matches (ORG)
    ("Ada", "Lovelace"), ("ada", "lovelace"), ("ADA", "LOVELACE"),
]


def _h64(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


def _lcg_next(x: int) -> int:
    return (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)


def turns_for_conv(conv_idx: int, seed: int = DEFAULT_SEED) -> int:
    """Turn count per conversation; conv 0 is the hot conversation."""
    if conv_idx == 0:
        return 160
    return 4 + _h64(f"{seed}:nturns:{conv_idx}") % 12


def conv_id_str(conv_idx: int) -> str:
    return f"conv-{conv_idx:06d}"


_ROLES = ("user", "assistant", "tool")


def turn_row(
    conv_idx: int,
    turn_idx: int,
    seed: int = DEFAULT_SEED,
    min_frags: int = 2,
    rng_frags: int = 12,
) -> dict:
    """One transcript row. text is single-space-joined tokens, so the
    per-turn text-equality invariant (' '.join(tokens) == text) holds by
    construction. min_frags/rng_frags control turn length (the bench profile
    uses longer, BC5CDR-sentence-like turns)."""
    x = _h64(f"{seed}:text:{conv_idx}:{turn_idx}")
    n_frag = min_frags + (x >> 7) % rng_frags
    tokens: list[str] = []
    for _ in range(n_frag):
        x = _lcg_next(x)
        frag = _FRAGMENTS[(x >> 33) % len(_FRAGMENTS)]
        tokens.extend(frag)
    role = _ROLES[turn_idx % 3]
    return {
        "conv_id": conv_id_str(conv_idx),
        "turn_idx": turn_idx,
        "role": role,
        "text": " ".join(tokens),
        "tool": f"tool-{x % 5}" if role == "tool" else None,
        "ts": EPOCH + timedelta(seconds=conv_idx * 3600 + turn_idx * 7),
    }


def local_rows(n_convs: int, seed: int = DEFAULT_SEED) -> list[dict]:
    """All rows for n_convs conversations, driver-side (tests only)."""
    rows = []
    for c in range(n_convs):
        for t in range(turns_for_conv(c, seed)):
            rows.append(turn_row(c, t, seed))
    return rows


# --------------------------------------------------------------------------
# Distributed generation
# --------------------------------------------------------------------------

TRANSCRIPTS_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def synth_transcripts(spark, n_convs: int, seed: int = DEFAULT_SEED,
                      partitions: int | None = None,
                      min_frags: int = 2, rng_frags: int = 12):
    """Distributed deterministic transcripts: spark.range over conv indices,
    fan out turns inside mapInPandas. Output is independent of partitioning
    because every cell is a pure function of (seed, conv_idx, turn_idx)."""
    import pandas as pd  # executor-side import

    rng = spark.range(0, n_convs, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        pyworker.install()
        for pdf in batches:
            out = []
            for conv_idx in pdf["id"].values:
                c = int(conv_idx)
                for t in range(turns_for_conv(c, seed)):
                    out.append(turn_row(c, t, seed, min_frags, rng_frags))
            yield pd.DataFrame(
                out,
                columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
            )

    return rng.mapInPandas(gen, TRANSCRIPTS_DDL)


# --------------------------------------------------------------------------
# bench-scale dictionary (BC5CDR-like density: thousands of surfaces)
# --------------------------------------------------------------------------

_BENCH_WORDS = sorted(
    {w for frag in _FRAGMENTS for w in frag if w.isalpha() and w.islower()}
)


def bench_dict_spec(n_core: int = 2400, n_full: int = 6800) -> DictionarySpec:
    """A dictionary sized like BC5CDR's (dict_core 2,482 / dict_full 6,877 —
    BASELINE.md) built deterministically from the closed vocabulary:
    2-3-token combinations with hash-assigned types. Denser tries and many
    more candidate matches per token make bench numbers honest."""
    base = dict_spec()
    words = _BENCH_WORDS
    nw = len(words)
    types = ["Operator", "Object", "Metric", "Chemical", "Disease"]
    core = list(base.core)
    for i in range(n_core):
        x = _h64(f"benchcore:{i}")
        w1 = words[x % nw]
        w2 = words[(x >> 8) % nw]
        toks = [w1, w2]
        if x % 3 == 0:
            toks.append(words[(x >> 16) % nw])
        core.append((types[(x >> 24) % len(types)], " ".join(toks)))
    full = list(base.full)
    for i in range(n_full):
        x = _h64(f"benchfull:{i}")
        toks = [words[x % nw], words[(x >> 8) % nw]]
        if x % 2 == 0:
            toks.append(words[(x >> 16) % nw])
        full.append(" ".join(toks))
    return DictionarySpec(core=core, full=full, stopwords=list(base.stopwords))

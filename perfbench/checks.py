"""Output checks. The ``*_problems`` functions return a list of problems,
empty when the output is correct.

They compare plain Python values, so the tests can plant a wrong mention
or triple without a Spark session; ``spark_fingerprint`` reduces a triple
DataFrame to such a value.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import numpy as np

from autoner_spark.oracle import tag_turn
from autoner_spark.textutil import tokenize_turn

Span = tuple[int, int, str, str]   # begin_tok, end_tok, surface, entity_type
TurnKey = tuple[str, int]          # conv_id, turn_idx


# ---------------------------------------------------------------------------
# chain: sampled turns against the oracle, triple count against mentions
# ---------------------------------------------------------------------------


def sample_turns(cols: dict, seed: int, k: int) -> list[tuple[TurnKey, str]]:
    """``k`` seeded turns of a transcript column dict, always including the
    longest turn, so long-turn workloads check their long turns too."""
    n = len(cols["text"])
    rng = np.random.default_rng(seed + 1)
    picks = set(rng.choice(n, size=min(k, n), replace=False).tolist())
    picks.add(max(range(n), key=lambda i: len(cols["text"][i] or "")))
    return [((cols["conv_id"][i], cols["turn_idx"][i]), cols["text"][i])
            for i in sorted(picks)]


def oracle_spans(turns: list[tuple[TurnKey, str]], trie) -> dict[TurnKey, set[Span]]:
    out: dict[TurnKey, set[Span]] = {}
    for key, text in turns:
        ms = tag_turn(tokenize_turn(text), trie) if text else []
        out[key] = {(m.begin_tok, m.end_tok, m.surface, m.entity_type) for m in ms}
    return out


def span_problems(expected: dict[TurnKey, set[Span]],
                  got: dict[TurnKey, set[Span]]) -> list[str]:
    """Exact span-set equality per sampled turn (precision = recall = 1)."""
    problems = []
    for key, want in expected.items():
        have = got.get(key, set())
        if have != want:
            problems.append(
                f"turn {key}: {len(have - want)} spurious, "
                f"{len(want - have)} missed mentions")
    extra = set(got) - set(expected)
    if extra:
        problems.append(f"{len(extra)} turns outside the sample returned")
    return problems


def triples_from_types(type_counts) -> int:
    """Triples the chain must emit for ``(entity_type, mentions)`` pairs:
    one ``has_type`` per type in each mention's comma-joined type set plus
    one ``mentioned_in``."""
    return sum(n * (len(t.split(",")) + 1) for t, n in type_counts)


def count_problems(what: str, expected: int, got: int) -> list[str]:
    return [] if expected == got else [f"{what}: expected {expected}, got {got}"]


# ---------------------------------------------------------------------------
# job: triple multiset fingerprint
# ---------------------------------------------------------------------------

TRIPLE_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx")


def spark_fingerprint(df) -> tuple[int, int, int]:
    """(rows, sum of low 32 hash bits, sum of high 32 hash bits) over
    ``TRIPLE_COLS``: equal multisets give equal fingerprints."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*TRIPLE_COLS)
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))),
        F.sum(F.shiftrightunsigned(F.col("h"), 32)),
    ).first()
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


# ---------------------------------------------------------------------------
# ops: Spark rows against the DuckDB twin, normalised like the repo's gate
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=1)
def _gate_module():
    path = os.path.join("tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canon(rows, cols) -> list[tuple]:
    """``tools/check_correctness.canon``: columns sorted by name, values
    stringified with 6-decimal floats, rows sorted."""
    return _gate_module().canon(rows, cols)


def table_problems(name: str, want_cols, want_canon, got_cols, got_canon) -> list[str]:
    if len(got_canon) != len(want_canon):
        return [f"{name}: {len(got_canon)} rows, expected {len(want_canon)}"]
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)}, expected {sorted(want_cols)}"]
    if got_canon != want_canon:
        return [f"{name}: value hash differs"]
    return []

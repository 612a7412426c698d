"""Golden tables for the non-SQL-expressible DP query chain.

The DP tagger chain (segmentDP + Tie-or-Break labeling, src/string_match.h:
21-89 / src/annotation.h:267-351) cannot be expressed in ANSI SQL, so its
driver-gate queries had no DuckDB twin. This module closes that gap: a
**pure-Python, single-node** replay of the oracle chain (the same
``autoner_spark.oracle`` code that is pinned byte-for-byte against the
COMPILED reference binary in tests/test_reference_binary.py) materializes
each query's expected output as a parquet *golden table*; the DuckDB twin
then simply ``SELECT``s from the golden file, turning the rows-only checks
into full rows+schema+value-hash comparisons.

No Spark anywhere in this module — the golden path and the distributed path
share only the oracle primitives, so the driver gate is a genuine
cross-implementation comparison:

    Spark query (mapInArrow tagger)  ==  golden parquet (Python oracle)
                                      ==  compiled C++ binary (pytest)

Golden tables are regenerated with ``python tools/make_golden.py`` and are
deterministic (stable row order, fixed schema); tests/test_golden.py pins
golden == Spark at sf0.001 and golden == the committed files at sf0.01.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from .canonicalize import _union_find_labels
from .dictionary import TrieKB, build_trie
from .oracle import (
    extract_mentions,
    get_boundary,
    get_types,
    parse_marked_line,
    segment_dp,
    tag_turn,
)
from .textutil import ascii_lower, tokenize_turn

TURNS_PER_CONV = 8  # must match queries.TRANSCRIPTS_CTE


def golden_transcripts(documents_parquet: str) -> list[tuple[str, int, str]]:
    """documents.parquet -> [(conv_id, turn_idx, text)] — the deterministic
    derivation of queries.transcripts_df, replayed in Python."""
    t = pq.read_table(documents_parquet, columns=["doc_id", "text"])
    out = []
    for doc_id, text in zip(
        t.column("doc_id").to_pylist(), t.column("text").to_pylist()
    ):
        conv_id = f"conv-{doc_id // TURNS_PER_CONV:06d}"
        out.append((conv_id, int(doc_id % TURNS_PER_CONV), text))
    out.sort(key=lambda r: (r[0], r[1]))
    return out


def _kg_trie() -> TrieKB:
    from .queries import kg_dict_spec

    return build_trie(kg_dict_spec())


def golden_tag_mentions(turns, trie: TrieKB) -> list[tuple]:
    """q_kg_tag_mentions_dp twin: oracle.tag_turn per turn."""
    rows = []
    for conv_id, turn_idx, text in turns:
        if not text:
            continue
        for m in tag_turn(tokenize_turn(text), trie):
            rows.append(
                (conv_id, turn_idx, m.begin_tok, m.end_tok, m.surface,
                 m.entity_type)
            )
    return rows


def golden_labels(turns, trie: TrieKB) -> list[tuple]:
    """q_kg_labels_dp twin: Tie-or-Break labels exploded to long form."""
    rows = []
    for conv_id, turn_idx, text in turns:
        toks = tokenize_turn(text) if text else []
        stream = toks + ["\n"]
        segs = segment_dp(stream, trie)
        boundary = get_boundary(stream, segs)[: len(toks)]
        types = get_types(stream, segs)[: len(toks)]
        for i, tok in enumerate(toks):
            rows.append(
                (conv_id, turn_idx, i, tok, boundary[i], types[i],
                 boundary[i] != 0)
            )
    return rows


MARKUP_SURFACES = ("hash join", "table scan")  # must match q_kg_mentions_markup


def golden_markup_mentions(turns, trie: TrieKB) -> list[tuple]:
    """q_kg_mentions_markup twin: inject <phrase> markup for the same two
    surfaces the Spark query marks, then run the exact-lookup parser."""
    rows = []
    for conv_id, turn_idx, text in turns:
        if not text:
            continue
        marked = text
        for s in MARKUP_SURFACES:
            marked = marked.replace(s, f"<phrase>{s}</phrase>")
        raw, segs = parse_marked_line(marked, trie)
        for m in extract_mentions(raw, segs):
            rows.append(
                (conv_id, turn_idx, m.begin_tok, m.end_tok, m.surface,
                 m.entity_type)
            )
    return rows


def golden_triples(turns, trie: TrieKB) -> list[tuple]:
    """q_kg_triples_dp twin: oracle mentions -> link -> CC canonicalization
    -> (subj, pred, obj) triples, replaying triples.build_kg relationally in
    Python (same min-label union-find as canonicalize._union_find_labels).
    build_kg skips the CC because every edge here is a self-loop; this
    replay keeps it, so the golden table checks that shortcut."""
    from .queries import kg_dict_spec

    mentions = golden_tag_mentions(turns, trie)

    # dims: (surface_norm -> dict_surface), exploded-type table deduped —
    # mirrors triples.dict_link_pairs (dict_surfaces_df + the distinct() in
    # link_mentions)
    dims: dict[str, set[str]] = {}
    for _type_field, surface in kg_dict_spec().core:
        dims.setdefault(ascii_lower(surface), set()).add(surface)

    # linked: mention + every matching dict_surface (left join semantics)
    linked = []
    for conv_id, turn_idx, _b, _e, surface, entity_type in mentions:
        norm = ascii_lower(surface)
        for dict_surface in sorted(dims.get(norm, {None})):
            linked.append((conv_id, turn_idx, norm, dict_surface, entity_type))

    # CC over (surface_norm, norm(dict_surface) or self) edges
    edges = set()
    for _c, _t, norm, dict_surface, _ty in linked:
        dst = ascii_lower(dict_surface) if dict_surface is not None else norm
        edges.add((norm, dst))
        edges.add((dst, norm))  # symmetrize, as connected_components does
    labels = _union_find_labels(sorted(edges))

    triples = []
    for conv_id, turn_idx, norm, _ds, entity_type in linked:
        subj = "ent:" + labels.get(norm, norm)
        for t in entity_type.split(","):
            triples.append((subj, "has_type", t, conv_id, turn_idx))
        triples.append(
            (subj, "mentioned_in", f"{conv_id}#{turn_idx}", conv_id, turn_idx)
        )
    return triples


MENTIONS_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("begin_tok", pa.int32()),
        ("end_tok", pa.int32()),
        ("surface", pa.string()),
        ("entity_type", pa.string()),
    ]
)

LABELS_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("tok_idx", pa.int32()),
        ("token", pa.string()),
        ("boundary", pa.int32()),
        ("entity_type", pa.string()),
        ("safe", pa.bool_()),
    ]
)

TRIPLES_PA = pa.schema(
    [
        ("subj", pa.string()),
        ("pred", pa.string()),
        ("obj", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
    ]
)


def _write(rows: list[tuple], schema: pa.Schema, path: str) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    pq.write_table(table, path)


GOLDEN_BUILDERS = {
    "kg_tag_mentions_dp": (golden_tag_mentions, MENTIONS_PA),
    "kg_labels_dp": (golden_labels, LABELS_PA),
    "kg_mentions_markup": (golden_markup_mentions, MENTIONS_PA),
    "kg_triples_dp": (golden_triples, TRIPLES_PA),
}


def compute_golden(sf_dir: str) -> dict[str, list[tuple]]:
    turns = golden_transcripts(f"{sf_dir}/documents.parquet")
    trie = _kg_trie()
    return {name: fn(turns, trie) for name, (fn, _s) in GOLDEN_BUILDERS.items()}


def write_golden(sf_dir: str, out_dir: str) -> dict[str, int]:
    import os

    os.makedirs(out_dir, exist_ok=True)
    results = compute_golden(sf_dir)
    counts = {}
    for name, rows in results.items():
        _write(rows, GOLDEN_BUILDERS[name][1], f"{out_dir}/{name}.parquet")
        counts[name] = len(rows)
    return counts

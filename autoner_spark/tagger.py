"""Distributed distant-supervision tagger (the production path).

Runs the reference's deterministic dictionary-match tagger
(src/string_match.h:21-99 + src/annotation.h:267-317 span semantics) over an
Iceberg/parquet transcripts table, Spark-first:

* the DP runs at the full-dictionary weight ``bin/generate`` uses, 1.0
  (generate.cpp:36): core and filtered matches both score len^2, and
  there is no weight parameter (``oracle.segment_dp`` keeps the C++
  signature's ``weight`` as the reference);
* the KB trie is compiled to a nested-dict automaton on the driver and
  **broadcast** once per job (the Spark analogue of the reference's single
  shared in-memory trie, annotation.h:22);
* tagging is embarrassingly parallel over turns (a turn = a sentence; the
  reference's "\\n" sentinel barrier at string_match.h:35-37 becomes
  structural), so it runs as ONE narrow `mapInArrow` stage — Arrow batches
  in, Arrow batches out, no shuffle, no per-row Python UDF — whose one
  executor is the vectorized ``autoner_spark.tagvec`` engine, for every
  tokenizer and passthrough column. ``tag_stage`` is that stage for any
  tagvec emitter, over the automaton ``broadcast_automaton`` compiles:
  ``triples.build_kg`` runs it for the mentions, the linked mentions and
  the triples over one broadcast, ``lineage.tag_buckets`` once per
  bucket, and ``labels`` / ``markup`` for the Tie-or-Break labels and
  the phrase-markup mentions;
* conv_id and turn_idx are copied from the source row, so the output
  declares them as nullable as the input does (``stage_schema``; a NULL
  id on a matching turn is carried, not a JVM NullPointerException);
* ``tag_tokens_compiled`` is the scalar reference that engine is pinned to:
  a from-scratch DP, deliberately independent from the readable oracle in
  ``autoner_spark.oracle`` so the pytest parity suite cross-checks the
  implementations (plus the compiled reference binary where a toolchain
  exists). No production path calls it.

Scale notes (100 TB / 10^12 turns): the stage is map-only — throughput scales
linearly with executors; the only broadcast is the compiled trie (MBs for
dictionary sizes like BC5CDR's 9.4k surfaces). Input should arrive bucketed /
partitioned by ``conv_id`` so downstream per-conversation assembly avoids a
shuffle; the tagger itself is partitioning-agnostic and deterministic per row.
Every Python task also pays a fixed set-up cost before its first batch:
PySpark flushes the import caches, which re-reads every zip archive on the
worker's path (~0.25 s of CPU per task with zipped PySpark 4.1 on CPython
3.11, 4-vCPU x86-64 VM).
The executor closure therefore calls ``pyworker.install()`` first, so the
reused worker re-reads only archives that changed.
A task's memory is bounded whatever the input's shape: ``tag_stage`` cuts
each Arrow batch into row slices of at most ``SLICE_TEXT_BYTES`` of text,
so one emitter call's NumPy tables stay within about 24 MB however many
2k-token tool-output turns a batch holds, and the worker loads no pandas
(tagvec crosses to NumPy over buffers). On the bench's chain corpus a
tagging worker peaks at about 113 MB resident, a bare ``mapInArrow``
worker at about 89 MB.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructField, StructType

from . import pyworker, tagvec
from .dictionary import TrieKB
from .textutil import FILTERED_TYPE, is_separator_char

# the source-row ids every tagvec emitter copies onto its rows
_ID_COLS = ("conv_id", "turn_idx")

# Compiled automaton node layout: (children: dict[int, node] | None,
# kind: 0 none / 1 entity / 2 filtered, type_str: comma-joined sorted types).
# Children are keyed by INTERNED TOKEN IDS, not strings: each input token is
# hashed once per turn (vocab lookup); the DP walk then runs on small-int
# dict lookups — less string hashing and less memory traffic in the hot loop.
_KIND_NONE, _KIND_ENTITY, _KIND_FILTERED = 0, 1, 2

# text bytes one emitter call takes at most: ``tag_stage`` cuts a longer
# batch into row slices, since tagvec's memory grows with the tokens of
# the batch (about 31 MiB of NumPy tables per MiB of 2k-token turns at the
# bench dictionary) and a batch is otherwise bounded only by
# ``maxRecordsPerBatch`` rows. Well above the bench's batches (< 0.45 MiB)
SLICE_TEXT_BYTES = 768 * 1024

NEWLINE_ID = -2  # sentinel id for "\n" (never a trie edge; breaks the walk)
UNKNOWN_ID = -1  # token absent from the trie vocabulary


def compile_trie(trie: TrieKB) -> dict[str, Any]:
    """Flatten a TrieKB into int-keyed nested dicts + a token vocabulary.

    kind mirrors isEntity/isFiltered (annotation.h:39-45); type_str is the
    comma-joined sorted type set (the std::set iteration order used at
    string_match.h:70-76).
    """
    vocab: dict[str, int] = {}

    def tok_id(tok: str) -> int:
        i = vocab.get(tok)
        if i is None:
            i = len(vocab)
            vocab[tok] = i
        return i

    def build(u: int) -> tuple[dict | None, int, str]:
        kids = {
            tok_id(tok): build(v) for tok, v in trie.children[u].items()
        } or None
        t = trie.types[u]
        if len(t) > 0 and FILTERED_TYPE not in t:
            kind, ts = _KIND_ENTITY, ",".join(sorted(t))
        elif len(t) == 1 and FILTERED_TYPE in t:
            kind, ts = _KIND_FILTERED, FILTERED_TYPE
        else:
            kind, ts = _KIND_NONE, ""
        return (kids, kind, ts)

    root = build(0)
    # "\n" can legally appear as a trie edge (a dict surface containing a
    # newline token is pathological but constructible); the reference's DP
    # breaks on "\n" BEFORE descending (string_match.h:35-37), so mapping it
    # to NEWLINE_ID preserves semantics even then.
    vocab["\n"] = NEWLINE_ID
    return {"root": root, "vocab": vocab}


def tag_tokens_compiled(
    tokens: list[str], compiled: dict[str, Any]
) -> list[tuple[int, int, str, str]]:
    """DP segmentation + mention extraction against a compiled trie.

    Exact semantics of segmentDP (string_match.h:21-89: strict-improvement
    updates, len^2 score for core and filtered matches alike at AutoNER's
    full-dictionary weight 1.0, trie walk never crossing "\\n") followed
    by the entity-span extraction rules of annotation.h:267-317
    (separator-skip; FILTERED/empty segments are not mentions). Returns
    (begin_tok, end_tok, surface, entity_type) tuples.
    """
    n = len(tokens)
    if n == 0:
        return []
    vocab = compiled["vocab"]
    vget = vocab.get
    ids = [vget(t, UNKNOWN_ID) for t in tokens]
    root_children = compiled["root"][0]
    if root_children is None or not any(
        t >= 0 and t in root_children for t in ids
    ):
        # no token starts any dictionary path: the DP degenerates to
        # all-skip segmentation -> zero mentions. Real transcript corpora
        # are sparse (most turns mention nothing), so this prunes the
        # whole DP allocation + loop for them.
        return []
    f = [-1.0] * (n + 1)
    f[0] = 0.0
    tb_i = [0] * (n + 1)
    tb_t: list[tuple[int, str]] = [(0, "")] * (n + 1)  # (kind, type_str)

    for i in range(n):
        fi = f[i]
        if fi > f[i + 1]:
            f[i + 1] = fi
            tb_i[i + 1] = i
            tb_t[i + 1] = (_KIND_NONE, "")
        node_children = root_children
        if node_children is None:
            continue
        for j in range(i, n):
            tid = ids[j]
            if tid < 0:
                if tid == NEWLINE_ID:
                    break  # "\n" barrier checked BEFORE descending
                # unknown token: not "\n", but also not a trie edge
                break
            nxt = node_children.get(tid)
            if nxt is None:
                break
            kids, kind, ts = nxt
            if kind:
                d = j - i + 1
                score = fi + d * d
                if f[j + 1] < score:
                    f[j + 1] = score
                    tb_i[j + 1] = i
                    tb_t[j + 1] = (kind, ts)
            node_children = kids
            if node_children is None:
                break

    out: list[tuple[int, int, str, str]] = []
    j = n
    while j > 0:
        i = tb_i[j]
        kind, ts = tb_t[j]
        if kind == _KIND_ENTITY:
            # separator-skip (annotation.h:272-274): a span whose
            # concatenation is a single separator char (and not "\n")
            # never becomes an entity span.
            if not (
                j - i == 1
                and len(tokens[i]) == 1
                and tokens[i] != "\n"
                and is_separator_char(tokens[i])
            ):
                out.append((i, j, " ".join(tokens[i:j]), ts))
        j = i
    out.reverse()
    return out


def tag_transcripts(
    transcripts: DataFrame,
    trie: TrieKB,
    passthrough: tuple[str, ...] = (),
    tokenizer: str = "whitespace",
) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, ...) -> mentions DataFrame.

    One narrow ``mapInArrow`` stage over Arrow batches, run by
    ``tagvec.tag_record_batch`` for every ``tokenizer`` (one of
    ``tagvec.TOKENIZER_NAMES``; "whitespace" for pre-tokenized text,
    "charclass" for raw text) and ``passthrough``; the compiled trie is
    broadcast. Column pruning: only (conv_id, turn_idx, text) plus any
    ``passthrough`` columns are read, so a parquet/Iceberg scan prunes the
    rest at the source. ``passthrough`` columns (e.g. ``ts`` for streaming
    watermarks) are copied onto each emitted mention from its source row.
    Works on both batch and streaming DataFrames (the stage is stateless).
    """
    if tokenizer not in tagvec.TOKENIZER_NAMES:
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    return tag_stage(
        transcripts.select("conv_id", "turn_idx", "text", *passthrough),
        broadcast_automaton(transcripts.sparkSession, trie),
        tagvec.tag_record_batch, tagvec.OUT_SCHEMA, tokenizer)


def broadcast_automaton(spark, trie: TrieKB,
                        links: Iterable[tuple[str, str]] = ()):
    """``trie`` compiled (``compile_trie``, then ``tagvec.compile_vec``
    with the (norm, dictionary surface) pairs ``links`` the link and
    triple emitters read) and broadcast: the one automaton every tagvec
    emitter runs on."""
    return spark.sparkContext.broadcast(
        tagvec.compile_vec(compile_trie(trie), links))


def tag_stage(
    src: DataFrame,
    bc_vec,
    emit,
    schema: pa.Schema,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """One narrow ``mapInArrow`` over ``src`` (conv_id, turn_idx, text,
    *passthrough) running ``emit`` (a ``tagvec`` emitter, output
    ``schema`` then the passthrough columns) with the broadcast compiled
    automaton ``bc_vec``, on row slices of each batch of at most
    ``SLICE_TEXT_BYTES`` of text (``tagvec.text_slices``)."""

    def tag_arrow(batches):
        pyworker.install()
        vec = bc_vec.value
        for batch in batches:
            for part in tagvec.text_slices(batch, SLICE_TEXT_BYTES):
                yield emit(part, vec, tokenizer)

    return src.mapInArrow(tag_arrow, stage_schema(src.schema, schema))


def stage_schema(cols: StructType, schema: pa.Schema) -> StructType:
    """The Spark schema of an emitter's ``schema`` over source columns
    ``cols`` (conv_id, turn_idx, text, *passthrough): conv_id and
    turn_idx are copied from the source row, so they are as nullable as
    ``cols`` declares them; the passthrough columns follow."""
    return StructType(
        [StructField(f.name, f.dataType,
                     cols[f.name].nullable if f.name in _ID_COLS
                     else f.nullable)
         for f in from_arrow_schema(schema)]
        + cols.fields[3:]
    )

"""Vectorized (Arrow + NumPy) engine for the distributed DP tagger.

The only executor of every tagging path, each an emitter that
``tagger.tag_stage`` runs over Arrow batches. It is semantics-identical
to ``tagger.tag_tokens_compiled``, the scalar reference: the same segmentDP
recurrence (string_match.h:21-89 strict-improvement updates at
AutoNER's full-dictionary weight 1.0, so core and filtered matches both
score len^2; "\\n" barrier checked before descending) and the same
span-extraction rules (annotation.h:267-317 separator-skip), executed
over a whole Arrow batch at once instead of one Python token at a time:

* both tokenizers run as Arrow string kernels: ``whitespace`` splits on
  " " and ``charclass`` first rewrites every separator char to " " and
  "\\n" to " \\n ", so the two share the split and everything after it;
* token -> id mapping runs through ``pyarrow.compute.index_in`` (one C++
  hash probe per token instead of a Python dict lookup);
* the trie walk runs breadth-parallel over every start position of every
  turn in the batch, one NumPy ``searchsorted`` per depth level against a
  sorted ``state*V + token`` transition-key table;
* the DP runs in lockstep over the batch's match-connected runs: the
  DP looks back only through matches, so it splits exactly at every
  token boundary no match crosses, and each maximal run of crossing
  matches is one DP row (gaps, "\\n" and unmatched turns take no cells).
  Rows are sorted by length so each position-column touches only
  still-active rows, and the tables are ragged (column c stores only the
  rows of length >= c). Scores are float64 with the exact operation order
  of the scalar loop, so f[] is bit-identical to
  ``tag_tokens_compiled``'s: every score delta is an integer, so the
  float sums across a cut are exact;
* traceback runs as vectorized pointer-chasing rounds and yields each
  segment's terminal trie state. Every mention column but the source-row
  ones is a ``take`` by that state from arrays ``compile_vec`` built once:
  token ids are a bijection with the vocabulary strings (the remapped
  "\\n" edge is unreachable), so a state's path fixes the surface, its
  ``ascii_lower`` norm, the dictionary surfaces sharing that norm and
  the type list. Passthrough columns are copied onto each mention with
  one ``take`` by its source row;
* five emitters: three run over the same ENTITY segments, mentions
  (``tag_record_batch``), linked mentions (``link_record_batch``, the
  left join to the dictionary's surfaces with its multiplicity) and
  ``(subj, pred, obj)`` triples (``triple_record_batch``), so
  ``triples.build_kg`` links and assembles inside the batch; Tie-or-Break
  labels (``label_record_batch``) scatter the ENTITY and FILTERED
  segments into per-token arrays (``oracle.get_boundary`` /
  ``get_types``); and AutoPhrase markup (``markup_record_batch``) skips
  the DP, finding ``<phrase>`` markers with string kernels and looking
  each phrase up as an exact trie path (``oracle.parse_marked_line``).

Every emitter crosses between Arrow and NumPy only through ``_np`` (the
array's buffers read at its offset) and ``_pa`` (``Array.from_buffers``),
and passes Arrow kernels the string literals ``compile_vec`` built as
1-element arrays: ``pa.array``, ``pa.scalar``, ``Array.to_numpy``, a
Python literal as a kernel argument and an unpickled ``pa.Scalar`` all
import pandas, which the tagger never uses
(tests/test_tagvec_arrow.py).

Parity with the scalar path and the oracle's references is pinned by
tests/test_tagvec_parity.py (and transitively by the oracle/binary parity
suite, which runs the Spark tagger through this engine).

Scale note: everything here is per-batch and executor-side, and memory is
O(tokens in the batch): the DP tables hold one cell per token of a DP row
plus one per row, never rows x longest turn, and ``tagger.tag_stage``
hands an emitter at most ``tagger.SLICE_TEXT_BYTES`` of text per call
(``text_slices``). The only task-lifetime state is the compiled
transition table (built once per broadcast value). A worker's resident
set is mostly libraries: on the bench's chain corpus a bare
``mapInArrow`` worker (pyarrow and NumPy) peaks at about 89 MB and a
tagging worker at about 113 MB, where loading pandas cost another 32 MB
(PySpark 4.1, pyarrow 16.1, CPython 3.11).
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .textutil import SEPARATORS, ascii_lower

_KIND_ENTITY = 1

# Single-char tokens whose spans are separator-skipped (annotation.h:272-274):
# C-isspace chars plus SEPARATORS, minus "\n" (explicitly exempted there).
_SKIP_CHARS = sorted((set(" \t\v\f\r") | set(SEPARATORS)) - {"\n"})

# Turn-text tokenizers. "whitespace" is the pre-tokenized input_hint path
# (generate.cpp:23-32 consumes one token per line; per-turn text is
# space-joined tokens). "charclass" is the raw-text ingestion path: the
# reference's simpleTokenizeNonSep (utils.h:195-247, keepCapital so the
# trie's case-variant matching stays authoritative). It drops every
# separator token but "\n", i.e. exactly the chars in _SKIP_CHARS.
TOKENIZER_NAMES = ("whitespace", "charclass")
_CHARCLASS_SEP_RE = "[" + "".join(
    "\\" + c if c in "[]\\^-" else c for c in _SKIP_CHARS) + "]"

# conv_id and turn_idx are copied from the source row and may be NULL;
# every other column is a function of the segment and never is
OUT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("begin_tok", pa.int32(), False),
        pa.field("end_tok", pa.int32(), False),
        pa.field("surface", pa.string(), False),
        pa.field("entity_type", pa.string(), False),
    ]
)

# ``triples.link_mentions``'s columns: the mention, its norm and score,
# and one dictionary surface sharing the norm (NULL when none does)
LINKED_SCHEMA = pa.schema(
    [
        pa.field("surface_norm", pa.string(), False),
        *OUT_SCHEMA,
        pa.field("score", pa.float64(), False),
        pa.field("dict_surface", pa.string()),
    ]
)

TRIPLES_SCHEMA = pa.schema(
    [
        pa.field("subj", pa.string(), False),
        pa.field("pred", pa.string(), False),
        pa.field("obj", pa.string(), False),
        OUT_SCHEMA.field("conv_id"),
        OUT_SCHEMA.field("turn_idx"),
    ]
)

# ``labels.label_transcripts``' table: one row per source row, one list
# element per token
LABELS_SCHEMA = pa.schema(
    [
        OUT_SCHEMA.field("conv_id"),
        OUT_SCHEMA.field("turn_idx"),
        pa.field("tokens", pa.list_(pa.string()), False),
        pa.field("boundary", pa.list_(pa.int32()), False),
        pa.field("types", pa.list_(pa.string()), False),
        pa.field("safe", pa.list_(pa.bool_()), False),
    ]
)

# the NumPy dtype of each fixed-width Arrow type the emitters cross with
# (``DataType.to_pandas_dtype`` imports pandas)
_DTYPE = {pa.int8(): np.int8, pa.int32(): np.int32, pa.int64(): np.int64,
          pa.float64(): np.float64}


def _bits(buf: pa.Buffer, offset: int, n: int) -> np.ndarray:
    """Bits ``offset`` to ``offset + n`` of an Arrow bitmap, as bools."""
    return np.unpackbits(np.frombuffer(buf, np.uint8), count=offset + n,
                         bitorder="little")[offset:].view(bool)


def _np(arr: pa.Array, fill: Any) -> np.ndarray:
    """``arr`` (a ``_DTYPE`` type or bool) as NumPy, read from its buffers
    at its offset: booleans unpacked, NULL slots set to ``fill``. A view
    of the values when they are fixed-width and have no NULL."""
    boolean = arr.type == pa.bool_()
    n, off = len(arr), arr.offset
    if n == 0:
        return np.empty(0, bool if boolean else _DTYPE[arr.type])
    validity, data = arr.buffers()[:2]
    out = (_bits(data, off, n) if boolean
           else np.frombuffer(data, _DTYPE[arr.type], count=off + n)[off:])
    if arr.null_count:
        out = np.where(_bits(validity, off, n), out, out.dtype.type(fill))
    return out


def _pa(values: np.ndarray, type: pa.DataType,
        mask: np.ndarray | None = None) -> pa.Array:
    """``values`` as an Arrow array of ``type`` (a ``_DTYPE`` type or
    bool), NULL where ``mask``; over the values' own memory when they are
    contiguous and of ``type``'s dtype."""
    if type == pa.bool_():
        data = np.packbits(values, bitorder="little")
    else:
        data = np.ascontiguousarray(values, _DTYPE[type])
    nulls = 0 if mask is None else int(np.count_nonzero(mask))
    validity = (pa.py_buffer(np.packbits(~mask, bitorder="little"))
                if nulls else None)
    return pa.Array.from_buffers(type, len(values),
                                 [validity, pa.py_buffer(data)], nulls)


def compile_vec(compiled: dict[str, Any],
                links: Iterable[tuple[str, str]] = ()) -> dict[str, Any]:
    """Flatten the nested-dict automaton from ``tagger.compile_trie`` into
    the array form the batch engine consumes.

    States are numbered by BFS from the root; transitions are a sorted
    int64 key table ``state * V + token_id`` -> child state. The "\\n"
    remap (vocab["\\n"] == NEWLINE_ID) is inherited via pos_to_id, so a
    pathological newline trie edge stays unreachable exactly as in the
    scalar walk.

    Per state, the BFS also records its path's surface (the tokens joined
    by spaces) and the surface's ``ascii_lower`` norm; then ``subj``
    (``'ent:' || norm``) and the slice ``link_lo``/``link_n`` of
    ``link_vals`` holding the dictionary surfaces of ``links`` ((norm,
    dictionary surface) pairs, ``triples.dict_link_pairs``) that share
    the norm. ``type_off``/``type_vals`` split each comma-joined type set
    into its types (CSR).

    The string literals the emitters pass to Arrow kernels are built here
    too, as 1-element arrays that a worker indexes (``[0]``): building a
    ``pa.Scalar`` or unpickling one imports pandas, as does ``pa.array``.
    """
    vocab: dict[str, int] = compiled["vocab"]
    tokens = list(vocab.keys())
    pos_to_id = np.fromiter(vocab.values(), dtype=np.int64, count=len(vocab))
    V = int(pos_to_id.max(initial=-1)) + 1
    # (token, ascii_lower(token)) by id; the one id without a token is
    # the "\n" edge's, remapped away
    tok_of = {i: (t, ascii_lower(t)) for t, i in vocab.items()}

    root = compiled["root"]
    kinds: list[int] = []
    tsids: list[int] = []
    haskid: list[bool] = []
    type_strs: list[str] = ["", ]
    type_index: dict[str, int] = {"": 0}
    tkeys: list[int] = []
    tvals: list[int] = []
    root_trans = np.full(max(V, 1), -1, dtype=np.int64)

    def intern_type(ts: str) -> int:
        i = type_index.get(ts)
        if i is None:
            i = len(type_strs)
            type_index[ts] = i
            type_strs.append(ts)
        return i

    # BFS; state 0 == root (kind/tsid/surface of the root are never
    # consulted)
    queue: list[tuple] = [root]
    surfs: list[str] = [""]
    norms: list[str] = [""]
    depth_of: list[int] = [0]
    max_depth = 0
    idx = 0
    while idx < len(queue):
        node = queue[idx]
        kids, kind, ts = node
        kinds.append(kind)
        tsids.append(intern_type(ts))
        haskid.append(kids is not None)
        d = depth_of[idx]
        max_depth = max(max_depth, d)
        if kids is not None:
            prefix = surfs[idx] + " " if idx else ""
            nprefix = norms[idx] + " " if idx else ""
            for tid, child in kids.items():
                cidx = len(queue)
                queue.append(child)
                tok, low = tok_of.get(tid, ("\n", "\n"))
                surfs.append(prefix + tok)
                norms.append(nprefix + low)
                depth_of.append(d + 1)
                if idx == 0:
                    if 0 <= tid < V:
                        root_trans[tid] = cidx
                    # out-of-range tid (a "\n" edge whose intern id was
                    # remapped away) can never be produced by the token
                    # mapper, matching the scalar break-before-descend rule
                elif 0 <= tid < V:
                    # same guard for non-root edges: an out-of-range tid
                    # packed as idx*V + tid would alias into state idx+1's
                    # key space and create a PHANTOM transition (r07
                    # review finding, repro in test_tagvec_parity)
                    tkeys.append(idx * V + tid)
                    tvals.append(cidx)
        idx += 1

    tkeys_a = np.asarray(tkeys, dtype=np.int64)
    tvals_a = np.asarray(tvals, dtype=np.int64)
    order = np.argsort(tkeys_a, kind="stable")
    nstates = len(queue)
    # direct-addressed (state, token) -> state table when it fits (16 MB);
    # falls back to searchsorted over the sorted key table for big tries
    trans_dense = None
    if nstates * max(V, 1) <= 4_000_000:
        trans_dense = np.full((nstates, max(V, 1)), -1, dtype=np.int32)
        if len(tkeys_a):
            trans_dense[tkeys_a // V, tkeys_a % V] = tvals_a

    # links: the (norm, surface) pairs grouped by norm; a state's group is
    # an exact-string lookup of its norm (ascii_lower distributes over
    # the space join, so the norm is the path of lowered tokens)
    pairs = sorted(set(links))
    first: dict[str, int] = {}
    for k, (norm, _) in enumerate(pairs):
        first.setdefault(norm, k)
    starts = np.fromiter(first.values(), dtype=np.int64, count=len(first))
    sizes = np.diff(np.append(starts, len(pairs)))
    norm_a = pa.array(norms, pa.string())
    g = pc.fill_null(pc.index_in(norm_a, value_set=pa.array(
        list(first), pa.string())), -1).to_numpy()
    type_lists = [ts.split(",") for ts in type_strs]
    types = pa.array(type_strs, pa.string())
    return {
        "value_set": pa.array(tokens, pa.string()),
        "pos_to_id": pos_to_id,
        "V": V,
        "root_trans": root_trans,
        "trans_keys": tkeys_a[order],
        "trans_vals": tvals_a[order],
        "trans_dense": trans_dense,
        "kind": np.asarray(kinds, dtype=np.int8),
        "tsid": np.asarray(tsids, dtype=np.int64),
        "haskid": np.asarray(haskid, dtype=bool),
        "types": types,
        # label types by ``tsid + 1``: 0 is "None", outside any entity
        "label_types": pa.concat_arrays([pa.array(["None"]), types]),
        "type_off": np.cumsum([0] + [len(t) for t in type_lists]),
        "type_vals": pa.array([t for ts in type_lists for t in ts],
                              pa.string()),
        "surface": pa.array(surfs, pa.string()),
        "norm": norm_a,
        "subj": pc.binary_join_element_wise("ent:", norm_a, ""),
        # g == -1 (no dictionary surface has the norm) picks the 0 appended
        "link_lo": np.append(starts, 0)[g],
        "link_n": np.append(sizes, 0)[g],
        "link_vals": pa.array([x for _, x in pairs], pa.string()),
        "max_depth": max_depth,
        "skip_set": pa.array(_SKIP_CHARS, pa.string()),
        "preds": pa.array(["has_type", "mentioned_in"], pa.string()),
        "empty": pa.array([""], pa.string()),
        "hash": pa.array(["#"], pa.string()),
        "space": pa.array([" "], pa.string()),
    }


def text_slices(batch: pa.RecordBatch,
                max_bytes: int) -> Iterable[pa.RecordBatch]:
    """``batch`` (conv_id, turn_idx, text, ...) cut into consecutive row
    slices whose text sums to at most ``max_bytes`` bytes each, a longer
    turn being a slice of its own. A turn never spans two slices and no
    emitter looks across turns, so emitting slice by slice gives the
    batch's output."""
    ends = np.cumsum(_np(pc.binary_length(batch.column(2)), 0),
                     dtype=np.int64)
    if not len(ends) or ends[-1] <= max_bytes:
        yield batch
        return
    cum = np.concatenate(([0], ends))
    lo = 0
    while lo < batch.num_rows:
        hi = max(int(np.searchsorted(cum, cum[lo] + max_bytes,
                                     side="right")) - 1, lo + 1)
        yield batch.slice(lo, hi - lo)
        lo = hi


def _token_ids(flat: pa.Array, vec: dict[str, Any]) -> np.ndarray:
    """Map flat tokens to trie token ids (UNKNOWN -> -1, "\\n" -> -2)."""
    idx_np = _np(pc.index_in(flat, value_set=vec["value_set"]),
                 -1).astype(np.int64)
    safe = np.maximum(idx_np, 0)
    return np.where(idx_np >= 0, vec["pos_to_id"][safe], np.int64(-1))


def _child(st: np.ndarray, tid: np.ndarray, vec: dict[str, Any]) -> np.ndarray:
    """The child state of each non-root state ``st`` by known token id
    ``tid``, -1 where the trie has no such edge (root edges are in
    ``root_trans``)."""
    dense = vec["trans_dense"]
    if dense is not None:
        return dense[st, tid]
    tkeys = vec["trans_keys"]
    if not len(tkeys):
        return np.full(len(st), -1, dtype=np.int64)
    key = st * vec["V"] + tid
    pos = np.minimum(np.searchsorted(tkeys, key), len(tkeys) - 1)
    return np.where(tkeys[pos] == key, vec["trans_vals"][pos], -1)


def _walk_matches(
    ids: np.ndarray,
    turn_end: np.ndarray,
    vec: dict[str, Any],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All dictionary matches: (flat_start, depth, state) triples.

    Breadth-parallel trie walk: level d holds every start position whose
    d-token prefix is a live trie path; ids < 0 (unknown / "\\n") never
    advance, mirroring the scalar break-before-descend order.
    """
    V = vec["V"]
    root_trans = vec["root_trans"]
    kind = vec["kind"]
    haskid = vec["haskid"]
    max_depth = vec["max_depth"]

    m_sp: list[np.ndarray] = []
    m_d: list[np.ndarray] = []
    m_st: list[np.ndarray] = []

    if ids.size == 0 or V == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()

    valid = ids >= 0
    st = np.where(valid, root_trans[np.maximum(ids, 0)], np.int64(-1))
    alive = st >= 0
    sp = np.flatnonzero(alive)
    st = st[alive]
    # sentinel-extended ids: reading one past the last token is always a
    # dead id, so the in-turn bound and the known-id test fuse into one
    # mask (one compress pass instead of three)
    ids_ext = np.concatenate((ids, np.full(1, -1, dtype=np.int64)))
    d = 1
    while sp.size:
        k = kind[st]
        hit = k > 0
        if hit.any():
            m_sp.append(sp[hit])
            m_d.append(np.full(int(hit.sum()), d, dtype=np.int64))
            m_st.append(st[hit])
        if d >= max_depth:
            break
        # descend: next token must exist in this turn, be a known id, and
        # the current state must have children — one fused mask
        nxt = np.minimum(sp + d, len(ids))
        tid = ids_ext[nxt]
        ok = (tid >= 0) & (sp + d < turn_end[sp]) & haskid[st]
        sp = sp[ok]
        st = st[ok]
        tid = tid[ok]
        nst = _child(st, tid, vec)
        found = nst >= 0
        sp = sp[found]
        st = nst[found].astype(np.int64, copy=False)
        d += 1
    if not m_sp:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    return (
        np.concatenate(m_sp),
        np.concatenate(m_d),
        np.concatenate(m_st),
    )


def _dp_segments(
    counts: np.ndarray,
    m_row: np.ndarray,
    m_i: np.ndarray,
    m_d: np.ndarray,
    m_kind: np.ndarray,
    m_st: np.ndarray,
    order: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Lockstep DP + traceback over all DP rows (rows already sorted by
    descending length via ``order``). Returns the match segments, ENTITY
    and FILTERED, as (sorted_row, begin, end, state, kind) arrays
    (unordered), state being the terminal trie state of the segment's
    match and kind its ``m_kind``.

    Column pass: cell c of every active row holds the max over its
    candidates — matches of depth d (value f[c-d] + delta_d) plus the
    skip from c-1 — folded with one scatter-max; the traceback choice is
    the chronologically FIRST max-achiever of the scalar loop (iteration
    i = c-d runs earlier for larger d; within iteration c-1 the skip
    precedes the d=1 match), reproduced by writing tie-achievers in
    d-ascending order with the skip>=d1 guard — so values AND traceback
    choices are bit-identical to ``tag_tokens_compiled``.

    Tables are ragged and column-major: column c holds only the rows of
    length >= c (a prefix, rows being sorted by descending length), so
    cell (r, c) lives at ``colstart[c] + r`` and the three tables hold
    sum(lengths) + rows cells instead of rows x longest row.
    """
    n = len(order)
    lens = counts[order]
    maxlen = int(lens[0]) if n else 0
    if maxlen == 0:
        return _no_segments()

    # rows stored in column c: lens >= c (sorted desc -> a prefix); all n
    # rows hold column 0
    asc = lens[::-1]
    width = np.concatenate((
        [n], n - np.searchsorted(asc, np.arange(1, maxlen + 1), side="left")
    ))
    colstart = np.concatenate(([0], np.cumsum(width)))

    D = int(m_d.max()) if m_d.size else 1

    # group matches by (end column, depth ASC) — one packed key argsort;
    # end and d are recovered from the key, and the traceback carries
    # the MATCH INDEX so kind/ts are never permuted. The depth field is
    # sized from D (a fixed 3-bit field silently corrupted groups for
    # dictionaries with >7-token surfaces — BC5CDR). The key is int64,
    # as a row can be a whole turn of any length, narrowed to int16 when
    # every key fits: numpy's stable argsort is a radix sort for 16-bit
    # keys, and match-connected runs nearly always fit.
    shift = max(D, 1).bit_length()
    mask = (1 << shift) - 1
    key = (m_i + m_d) * (1 << shift) + m_d
    if (maxlen + 1) << shift <= np.iinfo(np.int16).max:
        key = key.astype(np.int16)
    g = np.argsort(key, kind="stable")
    g_key = key[g]
    g_d = (g_key & mask).astype(np.int64)
    g_row = m_row[g]
    # entity and filtered matches score the same len^2; m_kind only
    # decides at traceback which segments are mentions
    g_delta = (g_d * g_d).astype(np.float64)
    nmatch = len(g)
    if nmatch:
        bounds = np.flatnonzero(np.diff(g_key)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [nmatch]))
    else:
        starts = ends = np.empty(0, dtype=np.int64)
    grp_end = (g_key[starts] >> shift) if nmatch else starts
    grp_d = (g_key[starts] & mask) if nmatch else starts
    col_ptr = 0
    ngroups = len(starts)

    ncells = int(colstart[-1])
    f = np.empty(ncells)
    f[:n] = 0.0
    # per-cell winner: tb_d = 0 for the skip / d for a match; tb_idx =
    # the winning MATCH INDEX, through which kind/ts resolve at
    # traceback time (no per-match kind/ts permutation in the setup).
    # Narrow dtypes (depth fits int8, match index int32) keep the three
    # per-cell tables at 13 bytes/cell instead of 24; the traceback
    # widens only its small gathered slices.
    tb_d = np.empty(ncells, dtype=np.int8 if D <= 127 else np.int16)
    tb_idx = np.empty(ncells, dtype=np.int32)

    for c in range(1, maxlen + 1):
        k = int(width[c])
        base = int(colstart[c])
        prev = int(colstart[c - 1])
        fcol = f[base:base + k]
        selcol = tb_d[base:base + k]
        skipv = f[prev:prev + k]
        # baseline: the skip candidate
        fcol[:] = skipv
        selcol[:] = 0
        lo = col_ptr
        while col_ptr < ngroups and grp_end[col_ptr] == c:
            col_ptr += 1
        if col_ptr == lo:
            continue
        # every match ending at c, all depths fused: one gather + one
        # scatter-max gives the exact strict-improvement cell values
        # (max over skip and all candidates)
        sl = slice(int(starts[lo]), int(ends[col_ptr - 1]))
        rr = g_row[sl]
        s = f[colstart[c - g_d[sl]] + rr] + g_delta[sl]
        np.maximum.at(fcol, rr, s)
        # traceback choice: the chronologically FIRST max-achiever wins
        # (d descending, then skip, then d=1). Writing tie-achievers in
        # d-ASCENDING group order makes the largest tied d the final
        # writer; the skip keeps any cell no match ties; the d=1 group
        # additionally requires s > skip (the skip ran first inside its
        # iteration), while d>=2 groups tie-beat the skip.
        hit = s == fcol[rr]
        for gi in range(lo, col_ptr):
            d = int(grp_d[gi])
            gsl = slice(int(starts[gi]), int(ends[gi]))
            rel = slice(gsl.start - sl.start, gsl.stop - sl.start)
            m = hit[rel]
            if d == 1:
                m = m & (s[rel] > skipv[g_row[gsl]])
            if m.any():
                ru = g_row[gsl][m]
                selcol[ru] = d
                tb_idx[base + ru] = g[gsl][m]

    # vectorized traceback: pointer-chase c -> c - step, emitting the
    # match segments along the way
    seg_r: list[np.ndarray] = []
    seg_b: list[np.ndarray] = []
    seg_e: list[np.ndarray] = []
    seg_s: list[np.ndarray] = []
    seg_k: list[np.ndarray] = []
    j = lens.astype(np.int64, copy=True)
    rows = np.flatnonzero(j > 0)
    while rows.size:
        jr = j[rows]
        cell = colstart[jr] + rows
        dsel = tb_d[cell].astype(np.int64)
        step = np.maximum(dsel, 1)
        ii = jr - step
        em = np.flatnonzero(dsel > 0)
        if em.size:
            idxs = tb_idx[cell[em]]
            seg_r.append(rows[em])
            seg_b.append(ii[em])
            seg_e.append(jr[em])
            seg_s.append(m_st[idxs])
            seg_k.append(m_kind[idxs])
        j[rows] = ii
        rows = rows[ii > 0]
    if not seg_r:
        return _no_segments()
    return tuple(np.concatenate(x) for x in (seg_r, seg_b, seg_e, seg_s,
                                             seg_k))


def _no_segments() -> tuple[np.ndarray, ...]:
    e = np.empty(0, dtype=np.int64)
    return e, e.copy(), e.copy(), e.copy(), e.copy()


def _tokens(batch: pa.RecordBatch,
            tokenizer: str) -> tuple[pa.Array, np.ndarray]:
    """The tokens of a (conv_id, turn_idx, text, ...) batch's turns: one
    flat string array and each source row's offsets into it (``nrows + 1``
    of them). ``tokenizer`` is one of TOKENIZER_NAMES; empty tokens are
    dropped, and NULL or empty text has none."""
    text = batch.column(2)
    if tokenizer == "charclass":
        text = pc.replace_substring(
            pc.replace_substring_regex(text, _CHARCLASS_SEP_RE, " "),
            "\n", " \n ")
    elif tokenizer != "whitespace":
        raise ValueError(f"unknown tokenizer {tokenizer!r}")

    # a NULL text splits into a NULL list: no tokens
    toks_list = pc.split_pattern(text, " ")
    counts_raw = _np(pc.list_value_length(toks_list), 0)
    flat_raw = pc.list_flatten(toks_list)
    offsets_raw = np.concatenate(([0], np.cumsum(counts_raw, dtype=np.int64)))

    # drop empty tokens ("a  b".split(" ") -> ["a", "", "b"])
    keep = _np(pc.binary_length(flat_raw), 0) > 0
    if keep.all():
        return flat_raw, offsets_raw
    cm = np.concatenate(([0], np.cumsum(keep, dtype=np.int64)))
    return pc.filter(flat_raw, _pa(keep, pa.bool_())), cm[offsets_raw]


def _segments(
    flat: pa.Array,
    offs: np.ndarray,
    vec: dict[str, Any],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The match segments, ENTITY and FILTERED, of the turns ``flat``
    and ``offs`` (``_tokens``) as (source row, begin_tok, end_tok,
    terminal state, kind) arrays, in the scalar emission order: batch row
    order, then ascending begin. The full DP + extraction, all
    batch-at-a-time; single-char separator segments are skipped."""
    P = int(offs[-1])
    if P == 0:
        return _no_segments()
    counts = np.diff(offs)
    nrows = len(counts)

    ids = _token_ids(flat, vec)
    turn_end = np.repeat(offs[1:], counts)

    m_sp, m_d, m_st = _walk_matches(ids, turn_end, vec)
    if m_sp.size == 0:
        return _no_segments()

    t_of = np.repeat(np.arange(nrows, dtype=np.int64), counts)

    # Cut the batch into DP rows: each maximal match-connected run is one
    # row ("\n" and turn ends are always cuts, gaps and unmatched turns
    # take no cells). The DP looks back only through matches, so a
    # boundary b that no match strictly crosses (sp < b < sp + d) splits
    # it exactly: f[b + x] = f[b] + g[x], where g is the DP of the part
    # after b alone. That holds bit for bit in float64 because every
    # delta d*d is an integer and |f| <= D * P stays far below 2**53.
    lo, hi = m_sp, m_sp + m_d
    # boundary t (before token t) is crossed when +1 over [lo + 1, hi)
    # covers it; a row starts where an interval starts at an uncrossed
    # boundary and stops where one ends at one
    ends_n = np.bincount(hi, minlength=P + 1)
    crossed = np.cumsum(np.bincount(lo + 1, minlength=P + 1) - ends_n) > 0
    is_start = np.zeros(P + 1, dtype=bool)
    is_start[lo] = True
    is_start &= ~crossed
    r_start = np.flatnonzero(is_start)
    r_stop = np.flatnonzero((ends_n > 0) & ~crossed)
    r_len = r_stop - r_start
    m_row = np.cumsum(is_start)[m_sp] - 1
    m_i = m_sp - r_start[m_row]

    # rows by descending length; ties in any order (rows are independent
    # and the output is re-sorted by turn and begin below)
    order = np.argsort(-r_len)
    row_of_run = np.empty(r_len.size, dtype=np.int64)
    row_of_run[order] = np.arange(r_len.size, dtype=np.int64)

    kindv = vec["kind"][m_st].astype(np.int8, copy=False)
    s_r, s_b, s_e, s_st, s_k = _dp_segments(
        r_len, row_of_run[m_row], m_i, m_d, kindv, m_st, order
    )
    if s_r.size == 0:
        return _no_segments()

    # back to original turns and turn-local positions; apply the
    # separator-skip rule
    run_start = r_start[order[s_r]]
    t_orig = t_of[run_start]
    run_in_turn = run_start - offs[t_orig]
    s_b = s_b + run_in_turn
    s_e = s_e + run_in_turn
    flat_start = offs[t_orig] + s_b
    single = (s_e - s_b) == 1
    if single.any():
        skip_flags = _np(pc.is_in(flat, value_set=vec["skip_set"]), False)
        drop = single & skip_flags[flat_start]
        if drop.any():
            keep_m = ~drop
            t_orig, s_b, s_e, s_st, s_k, flat_start = (
                x[keep_m] for x in (t_orig, s_b, s_e, s_st, s_k, flat_start))

    # the scalar order is that of the (unique) flat start positions
    ordm = np.argsort(flat_start)
    return t_orig[ordm], s_b[ordm], s_e[ordm], s_st[ordm], s_k[ordm]


def _mentions(
    batch: pa.RecordBatch,
    vec: dict[str, Any],
    tokenizer: str,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The entity segments of a (conv_id, turn_idx, text, ...) batch as
    (source row, begin_tok, end_tok, terminal state) arrays, in the
    scalar emission order."""
    t, b, e, st, kind = _segments(*_tokens(batch, tokenizer), vec)
    ent = kind == _KIND_ENTITY
    return t[ent], b[ent], e[ent], st[ent]


def _mention_columns(
    batch: pa.RecordBatch,
    vec: dict[str, Any],
    t: np.ndarray,
    b: np.ndarray,
    e: np.ndarray,
    st: np.ndarray,
) -> list[pa.Array]:
    """OUT_SCHEMA's columns for segments (source row, begin, end, state):
    the ids by source row, the surface and type set by state."""
    t_idx = _pa(t, pa.int64())
    return [
        batch.column(0).take(t_idx),
        pc.cast(batch.column(1).take(t_idx), pa.int32()),
        _pa(b, pa.int32()),
        _pa(e, pa.int32()),
        vec["surface"].take(_pa(st, pa.int64())),
        vec["types"].take(_pa(vec["tsid"][st], pa.int64())),
    ]


def _expand(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(owner, rank) of ``counts.sum()`` rows: ``counts[i]`` rows owned by
    i, ranked 0, 1, ... within it."""
    owner = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    return owner, np.arange(len(owner), dtype=np.int64) - np.repeat(
        np.cumsum(counts) - counts, counts)


def _link_rows(st: np.ndarray,
               vec: dict[str, Any]) -> tuple[np.ndarray, np.ndarray]:
    """Left join of segments (by terminal state) to the dictionary
    surfaces sharing their norm: (segment, ``link_vals`` index or -1)
    per joined row, one row per linked surface or one with -1."""
    n = vec["link_n"][st]
    seg, rank = _expand(np.maximum(n, 1))
    return seg, np.where(n[seg] > 0, vec["link_lo"][st][seg] + rank, -1)


def tag_record_batch(
    batch: pa.RecordBatch,
    vec: dict[str, Any],
    tokenizer: str = "whitespace",
) -> pa.RecordBatch:
    """(conv_id, turn_idx, text, *passthrough) record batch -> mentions
    record batch (OUT_SCHEMA, then the passthrough columns). Every column
    after ``text`` is copied onto each mention from its source row."""
    t, b, e, st = _mentions(batch, vec, tokenizer)
    t_idx = _pa(t, pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            *_mention_columns(batch, vec, t, b, e, st),
            *(batch.column(i).take(t_idx)
              for i in range(3, batch.num_columns)),
        ],
        schema=pa.schema([*OUT_SCHEMA, *list(batch.schema)[3:]]),
    )


def link_record_batch(
    batch: pa.RecordBatch,
    vec: dict[str, Any],
    tokenizer: str = "whitespace",
) -> pa.RecordBatch:
    """(conv_id, turn_idx, text) record batch -> linked mentions
    (LINKED_SCHEMA): ``triples.link_mentions`` over this batch's mentions
    and ``vec``'s links, computed by state."""
    t, b, e, st = _mentions(batch, vec, tokenizer)
    seg, link = _link_rows(st, vec)
    t, b, e, st = t[seg], b[seg], e[seg], st[seg]
    span = (e - b).astype(np.float64)
    return pa.RecordBatch.from_arrays(
        [
            vec["norm"].take(_pa(st, pa.int64())),
            *_mention_columns(batch, vec, t, b, e, st),
            _pa(span * span, pa.float64()),
            vec["link_vals"].take(_pa(link, pa.int64(), mask=link < 0)),
        ],
        schema=LINKED_SCHEMA,
    )


def triple_record_batch(
    batch: pa.RecordBatch,
    vec: dict[str, Any],
    tokenizer: str = "whitespace",
) -> pa.RecordBatch:
    """(conv_id, turn_idx, text) record batch -> (subj, pred, obj,
    conv_id, turn_idx) triples (TRIPLES_SCHEMA). Each linked mention of
    ``link_record_batch`` gives one ``has_type`` triple per type of its
    set, then one ``mentioned_in`` triple whose object is Spark's
    ``concat_ws('#', conv_id, turn_idx)`` (NULLs skipped)."""
    t, _, _, st = _mentions(batch, vec, tokenizer)
    seg, _ = _link_rows(st, vec)
    t, st = t[seg], st[seg]
    type_off = vec["type_off"]
    ts = vec["tsid"][st]
    n_types = type_off[ts + 1] - type_off[ts]
    row, rank = _expand(n_types + 1)
    mentioned = rank == n_types[row]

    # objects: the type strings, then each source row's conv_id#turn_idx.
    # (binary_join_element_wise's "skip" null handling drops the rows
    # where every input is NULL, so the NULL cases are coalesced instead.)
    conv = batch.column(0)
    turn = pc.cast(batch.column(1), pa.string())
    where = pc.coalesce(pc.binary_join_element_wise(conv, turn,
                                                    vec["hash"][0]),
                        conv, turn, vec["empty"][0])
    types = vec["type_vals"]
    obj_idx = np.where(mentioned, len(types) + t[row],
                       type_off[ts[row]] + rank)
    t_idx = _pa(t[row], pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            vec["subj"].take(_pa(st[row], pa.int64())),
            vec["preds"].take(_pa(mentioned, pa.int8())),
            pa.concat_arrays([types, where]).take(_pa(obj_idx, pa.int64())),
            conv.take(t_idx),
            pc.cast(batch.column(1).take(t_idx), pa.int32()),
        ],
        schema=TRIPLES_SCHEMA,
    )


def label_record_batch(
    batch: pa.RecordBatch,
    vec: dict[str, Any],
    tokenizer: str = "whitespace",
) -> pa.RecordBatch:
    """(conv_id, turn_idx, text) record batch -> Tie-or-Break labels
    (LABELS_SCHEMA), one row per source row: ``oracle.get_boundary`` and
    ``get_types`` of the turn's DP segments, the turn followed by its
    "\\n" sentinel, whose slot is dropped.

    Boundaries default to Break (1). A FILTERED segment [l, r) writes
    Unknown (0) through r INCLUSIVE (annotation.h:278), except at turn
    end, where slot r is the sentinel's; an entity segment then writes
    1 at l and Tie (-1) over (l, r), overwriting the one slot where they
    meet, a FILTERED slot r that is the next segment's l. Types default
    to "None" and are the entity's type set over [l, r)."""
    flat, offs = _tokens(batch, tokenizer)
    t, b, e, st, kind = _segments(flat, offs, vec)
    first = offs[t] + b
    boundary = np.ones(int(offs[-1]), dtype=np.int32)
    filt = kind != _KIND_ENTITY
    inside = e[filt] < np.diff(offs)[t[filt]]
    own, rank = _expand(e[filt] - b[filt] + inside)
    boundary[first[filt][own] + rank] = 0
    ent = ~filt
    own, rank = _expand(e[ent] - b[ent])
    pos = first[ent][own] + rank
    boundary[pos] = np.where(rank == 0, 1, -1)
    type_idx = np.zeros(len(boundary), dtype=np.int64)
    type_idx[pos] = vec["tsid"][st[ent]][own] + 1

    lists = _pa(offs, pa.int32())
    return pa.RecordBatch.from_arrays(
        [
            batch.column(0),
            pc.cast(batch.column(1), pa.int32()),
            pa.ListArray.from_arrays(lists, flat),
            pa.ListArray.from_arrays(lists, _pa(boundary, pa.int32())),
            pa.ListArray.from_arrays(lists, vec["label_types"].take(
                _pa(type_idx, pa.int64()))),
            pa.ListArray.from_arrays(lists, _pa(boundary != 0, pa.bool_())),
        ],
        schema=LABELS_SCHEMA,
    )


def _strip_marker(tokens: pa.Array,
                  marker: str) -> tuple[pa.Array, np.ndarray]:
    """(``tokens`` with every ``marker`` removed, again until none is
    left, as ``oracle._strip_marker``; whether each token held one)."""
    held = pc.match_substring(tokens, marker)
    left = held
    while pc.any(left).as_py():
        tokens = pc.replace_substring(tokens, marker, "")
        left = pc.match_substring(tokens, marker)
    return tokens, _np(held, False)


def _exact_paths(ids: np.ndarray, first: np.ndarray, n: np.ndarray,
                 vec: dict[str, Any]) -> np.ndarray:
    """The trie state of each token-id path ``ids[first:first + n]``
    (``TrieKB.get_type_from_kb``'s walk), -1 where it leaves the trie."""
    st = np.where(n > vec["max_depth"], -1, 0)
    for d in range(min(int(n.max(initial=0)), vec["max_depth"])):
        act = np.flatnonzero((n > d) & (st >= 0))
        tid = ids[first[act] + d]
        ok = tid >= 0
        nxt = np.full(len(act), -1, dtype=np.int64)
        nxt[ok] = (vec["root_trans"][tid[ok]] if d == 0
                   else _child(st[act][ok], tid[ok], vec))
        st[act] = nxt
    return st


def markup_record_batch(
    batch: pa.RecordBatch,
    vec: dict[str, Any],
    tokenizer: str = "whitespace",
) -> pa.RecordBatch:
    """(conv_id, turn_idx, text) record batch of AutoPhrase-marked turns
    -> mentions (OUT_SCHEMA): ``oracle.extract_mentions`` of
    ``oracle.parse_marked_line`` per turn (annotation.h:397-476), with no
    DP. Marked turns split on spaces, the "whitespace" tokenizer.

    Markers are stripped from each token with Arrow string kernels; a
    token's "<phrase>" opens a phrase (afresh if one is open) and its
    "</phrase>" closes it, so the parser is inside a phrase after a token
    that opens one and does not close it, and phrases are found by
    running maxima over token positions. A close inside a phrase looks
    the phrase up as an exact trie path; a close outside any looks the
    turn's last closed phrase up again, over as many tokens ending at its
    own. A known entity path is a mention unless it is one single-char
    separator token; its surface is the space-joined tokens it spans.
    Raises ValueError on a turn that leaves a phrase open."""
    raw, offs = _tokens(batch, tokenizer)
    raw, opens = _strip_marker(raw, "<phrase>")
    raw, closes = _strip_marker(raw, "</phrase>")
    pos = np.arange(len(raw), dtype=np.int64)
    row_lo = np.repeat(offs[:-1], np.diff(offs))

    def last(flags: np.ndarray) -> np.ndarray:
        # the last flagged position at or before each token, -1 if none
        # in its turn
        at = np.maximum.accumulate(np.where(flags, pos, -1))
        return np.where(at >= row_lo, at, -1)

    # inside a phrase after each token: the turn's last marked token so
    # far opened one and did not close it
    marked = last(opens | closes)
    inside = (marked >= 0) & (opens & ~closes)[marked]
    rows = np.flatnonzero(np.diff(offs))
    unclosed = rows[inside[offs[rows + 1] - 1]]
    if unclosed.size:
        line = batch.column(2)[int(unclosed[0])].as_py()
        raise ValueError(f"unclosed <phrase> in line: {line!r}")
    shut = closes & (opens | (np.roll(inside, 1) & (pos > row_lo)))

    # the phrases closed inside one, and which are entity paths
    real = np.flatnonzero(shut)
    n = real - last(opens)[real] + 1
    st = _exact_paths(_token_ids(raw, vec), real - n + 1, n, vec)
    sep = (n == 1) & _np(pc.is_in(raw.take(_pa(real, pa.int64())),
                                  value_set=vec["skip_set"]), False)
    entity = (st >= 0) & (vec["kind"][st] == _KIND_ENTITY) & ~sep

    # every close looks up its turn's last phrase closed inside one
    ref = last(shut)[closes]
    end = np.flatnonzero(closes)[ref >= 0] + 1
    k = np.searchsorted(real, ref[ref >= 0])
    end, k = end[entity[k]], k[entity[k]]
    t = np.searchsorted(offs, end - 1, side="right") - 1
    begin = end - n[k]
    own, rank = _expand(n[k])
    spans = pa.ListArray.from_arrays(
        _pa(np.concatenate(([0], np.cumsum(n[k]))), pa.int32()),
        raw.take(_pa(begin[own] + rank, pa.int64())))
    cols = _mention_columns(batch, vec, t, begin - offs[t], end - offs[t],
                            st[k])
    # the spanned tokens: after a stray close they are not the phrase's
    cols[4] = pc.binary_join(spans, vec["space"][0])
    return pa.RecordBatch.from_arrays(cols, schema=OUT_SCHEMA)

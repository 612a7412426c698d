"""Vectorized batch tagger (tagvec) vs scalar tag_tokens_compiled.

The batch engine must be output-identical — same spans, same types, same
emission order — on the synthetic corpus (both dictionary profiles, whose
full dictionaries give FILTERED matches), on adversarial edge inputs, on
random token soup, and on raw text through the charclass tokenizer. The
engine runs AutoNER's one full-dictionary weight, 1.0; the tests whose id
names it also check ``oracle.tag_turn``, which still takes the weight as
the C++ signature does. Spark-level parity vs the oracle is covered by
tests/test_tagger_spark.py and tests/test_bc5cdr.py, which route through
this engine. Turns of 1k to 100k tokens, alone and inside a batch of short
turns, are checked against ``oracle.tag_turn`` directly, and the batch
memory they take is bounded. The labels and markup emitters are checked
against the oracle's readable references, on their quirks and on random
input."""

import functools
import random
import tracemalloc

import pyarrow as pa
import pytest

from autoner_spark import synth
from autoner_spark.dictionary import DictionarySpec, build_trie
from autoner_spark.golden import golden_labels
from autoner_spark.oracle import (
    extract_mentions,
    parse_marked_line,
    segment_dp,
    tag_turn,
)
from autoner_spark.tagger import (
    SLICE_TEXT_BYTES,
    compile_trie,
    tag_tokens_compiled,
)
from autoner_spark.tagvec import (
    compile_vec,
    label_record_batch,
    markup_record_batch,
    tag_record_batch,
    text_slices,
)
from autoner_spark.textutil import simple_tokenize_non_sep, tokenize_turn

EDGE_ROWS = [
    {"conv_id": "e", "turn_idx": 0, "text": ""},
    {"conv_id": "e", "turn_idx": 1, "text": None},
    {"conv_id": "e", "turn_idx": 2, "text": "   "},
    {"conv_id": "e", "turn_idx": 3, "text": ", . ( )"},
    {"conv_id": "e", "turn_idx": 4, "text": "hash  join   shuffle"},
    {"conv_id": "e", "turn_idx": 5, "text": "zzz unknown qqq"},
    {"conv_id": "e", "turn_idx": 6, "text": "shuffle"},
    {"conv_id": "e", "turn_idx": 7, "text": "the the the"},
    {"conv_id": "e", "turn_idx": 8,
     "text": "hash join hash join sort merge join the vector"},
]


def scalar_tag(rows, comp, tokenize=tokenize_turn):
    out = []
    for r in rows:
        x = r["text"]
        if not x:
            continue
        for b, e, surf, ts in tag_tokens_compiled(tokenize(x), comp):
            out.append((r["conv_id"], r["turn_idx"], b, e, surf, ts))
    return out


def oracle_tag(rows, trie, weight, tokenize=tokenize_turn):
    return [(r["conv_id"], r["turn_idx"], m.begin_tok, m.end_tok, m.surface,
             m.entity_type)
            for r in rows if r["text"]
            for m in tag_turn(tokenize(r["text"]), trie, weight)]


def _batch(rows):
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r["conv_id"] for r in rows], pa.string()),
            pa.array([r["turn_idx"] for r in rows], pa.int32()),
            pa.array([r["text"] for r in rows], pa.string()),
        ],
        names=["conv_id", "turn_idx", "text"],
    )


def vec_tag(rows, vec, tokenizer="whitespace", emit=tag_record_batch):
    out = emit(_batch(rows), vec, tokenizer)
    return list(
        zip(
            out.column(0).to_pylist(),
            out.column(1).to_pylist(),
            out.column(2).to_pylist(),
            out.column(3).to_pylist(),
            out.column(4).to_pylist(),
            out.column(5).to_pylist(),
        )
    )


@pytest.mark.parametrize("spec_fn,kw", [
    (synth.dict_spec, {}),
    (synth.bench_dict_spec, {"min_frags": 12, "rng_frags": 30}),
])
@pytest.mark.parametrize("weight", [1.0])
def test_parity_synth(spec_fn, kw, weight):
    trie = build_trie(spec_fn())
    comp = compile_trie(trie)
    vec = compile_vec(comp)
    rows = list(EDGE_ROWS)
    for c in range(120):
        for t in range(synth.turns_for_conv(c)):
            rows.append(synth.turn_row(c, t, **kw))
    got = vec_tag(rows, vec)
    assert got == scalar_tag(rows, comp)
    assert got == oracle_tag(rows, trie, weight)


def test_parity_random_soup():
    comp = compile_trie(build_trie(synth.dict_spec()))
    vec = compile_vec(comp)
    rng = random.Random(7)
    words = [
        "hash", "join", "scan", "the", "zz", ",", ".", "(", "shuffle",
        "table", "big", "small", "sort", "merge", "row", "count", "a",
    ]
    rows = [
        {
            "conv_id": f"r{i}",
            "turn_idx": i,
            "text": " ".join(
                rng.choice(words) for _ in range(rng.randrange(0, 30))
            ),
        }
        for i in range(3000)
    ]
    a = scalar_tag(rows, comp)
    b = vec_tag(rows, vec)
    assert a == b
    assert a, "stress fixture must produce mentions"


def test_empty_batch():
    vec = compile_vec(compile_trie(build_trie(synth.dict_spec())))
    assert vec_tag([], vec) == []


def test_newline_trie_edge_stays_unreachable():
    """A dict surface containing a mid-surface "\\n" token builds a trie
    edge whose intern id is remapped away (vocab["\\n"] = NEWLINE_ID); the
    packed (state, token) key of that edge must NOT alias into the next
    state's key space (r07 review finding: the phantom transition made
    the batch engine emit mentions the scalar/reference tagger never
    produces)."""
    from autoner_spark.dictionary import DictionarySpec

    spec = DictionarySpec(
        core=[("T", "8 9 6"), ("T", "7 \n 6"), ("T", "9 6")],
        full=[], stopwords=[],
    )
    comp = compile_trie(build_trie(spec))
    vec = compile_vec(comp)
    rows = [
        {"conv_id": "p", "turn_idx": 0, "text": "9 8 6"},
        {"conv_id": "p", "turn_idx": 1, "text": "8 9 6"},
        {"conv_id": "p", "turn_idx": 2, "text": "9 6"},
        {"conv_id": "p", "turn_idx": 3, "text": "7 6"},
    ]
    assert vec_tag(rows, vec) == scalar_tag(rows, comp)


def _deep_spec():
    """Dictionary with >7-token surfaces: exercises depth fields beyond a
    3-bit packing (the BC5CDR regression class) and nested prefixes."""
    from autoner_spark.dictionary import DictionarySpec

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu"]
    core = [
        ("Long", " ".join(words[:9])),
        ("Long", " ".join(words[:11])),
        ("Mid", " ".join(words[:4])),
        ("Short", "alpha beta"),
        ("Short", "beta gamma"),
    ]
    return DictionarySpec(core=core, full=[" ".join(words[2:10])],
                          stopwords=[])


@pytest.mark.parametrize("force_sparse", [False, True])
def test_parity_deep_surfaces(force_sparse):
    comp = compile_trie(build_trie(_deep_spec()))
    vec = compile_vec(comp)
    if force_sparse:
        # exercise the searchsorted transition path large tries take
        vec = dict(vec, trans_dense=None)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu", "zzz"]
    rng = random.Random(11)
    rows = [
        {"conv_id": f"d{i}", "turn_idx": i,
         "text": " ".join(rng.choice(words)
                          for _ in range(rng.randrange(0, 30)))}
        for i in range(2000)
    ]
    rows.append({"conv_id": "full", "turn_idx": 0,
                 "text": " ".join(words[:11]) + " zzz " + " ".join(words[:9])})
    a = scalar_tag(rows, comp)
    b = vec_tag(rows, vec)
    assert a == b
    assert any(m[3] - m[2] >= 9 for m in a), "deep surfaces must match"


def _charclass_tokenize(x):
    return simple_tokenize_non_sep(x, keep_capital=True)


def _raw_text(rng, n_words):
    """Raw prose: dictionary words in case variants and non-ASCII words,
    glued by runs of separator and C-space chars (or by nothing)."""
    words = ["hash", "join", "Hash", "JOIN", "jOIN", "sort", "merge",
             "SHUFFLE", "Shuffle", "table", "scan", "big", "Ada",
             "Lovelace", "ADA", "the", "THE", "zz", "caf\u00e9",
             "STRA\u00dfE", "\u00c9cole", "\u4e2d\u6587", "na\u00efve"]
    glue = list(" \t\v\f\r\n/.,-()!?~@#$%^&*[]")
    parts = []
    for _ in range(n_words):
        parts.append(rng.choice(words))
        parts.append("".join(rng.choice(glue)
                             for _ in range(rng.choice((0, 1, 1, 1, 2, 3)))))
    return "".join(parts)


@pytest.mark.parametrize("weight", [1.0])
def test_parity_charclass(weight):
    """The Arrow charclass tokenizer tags raw text exactly as the scalar
    tagger and the oracle over ``simple_tokenize_non_sep(keep_capital=
    True)``: short turns, empty and NULL text, and one turn of over 20k
    tokens among them."""
    trie = build_trie(synth.dict_spec())
    comp = compile_trie(trie)
    vec = compile_vec(comp)
    rng = random.Random(13)
    rows = [{"conv_id": "c", "turn_idx": i,
             "text": _raw_text(rng, rng.randrange(0, 25))}
            for i in range(3000)]
    rows[10]["text"] = ""
    rows[20]["text"] = None
    rows.insert(1500, {"conv_id": "long", "turn_idx": 0,
                       "text": _raw_text(rng, 24_000)})
    assert len(_charclass_tokenize(rows[1500]["text"])) >= 20_000
    got = vec_tag(rows, vec, "charclass")
    assert got == scalar_tag(rows, comp, _charclass_tokenize)
    assert got == oracle_tag(rows, trie, weight, _charclass_tokenize)
    assert any(m[0] == "long" for m in got)


def test_unknown_tokenizer_raises():
    vec = compile_vec(compile_trie(build_trie(synth.dict_spec())))
    with pytest.raises(ValueError, match="tokenizer"):
        vec_tag([], vec, "unicode")
    # a weight passed positionally, as before the engine had one weight,
    # binds to ``tokenizer`` and fails loudly
    with pytest.raises(ValueError, match="tokenizer"):
        vec_tag([], vec, 1.0)


# ---------------------------------------------------------------------------
# long turns: parity with the oracle and bounded memory
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=None)
def _bench_kb():
    trie = build_trie(synth.bench_dict_spec())
    return trie, compile_vec(compile_trie(trie))


def _long_row(n_tok):
    """One tool-output turn of exactly ``n_tok`` synth tokens."""
    row = synth.turn_row(90_000, 0, min_frags=n_tok, rng_frags=1)
    text = " ".join(row["text"].split(" ")[:n_tok])
    return {"conv_id": "long", "turn_idx": n_tok, "text": text}


@functools.lru_cache(maxsize=None)
def _short_rows():
    return tuple(
        {"conv_id": f"s{c}", "turn_idx": 0,
         "text": synth.turn_row(c, 0, min_frags=12, rng_frags=30)["text"]}
        for c in range(2000)
    )


def _mixed_rows(n_tok):
    rows = list(_short_rows())
    rows.insert(len(rows) // 2, _long_row(n_tok))
    return rows


@pytest.mark.parametrize("mixed", [False, True], ids=["alone", "mixed"])
@pytest.mark.parametrize("weight", [1.0])
@pytest.mark.parametrize("n_tok", [1_000, 20_000, 100_000])
def test_long_turn_parity_with_oracle(n_tok, weight, mixed):
    """A long turn, alone or inside 2,000 short turns, tags exactly as
    ``oracle.tag_turn`` (DP rows are the match-connected runs)."""
    rows = _mixed_rows(n_tok) if mixed else [_long_row(n_tok)]
    trie, vec = _bench_kb()
    got = vec_tag(rows, vec)
    assert got == oracle_tag(rows, trie, weight)
    assert any(m[0] == "long" for m in got)


def test_long_turn_batch_memory_is_bounded():
    """A 20k-token turn inside 2,000 short turns must not size the DP
    tables by rows x longest turn (about 520 MB of tables); the batch
    stays within 32 MB of traced allocations."""
    batch_rows = _mixed_rows(20_000)
    vec = _bench_kb()[1]
    tracemalloc.start()
    try:
        vec_tag(batch_rows, vec)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 32 * 2**20, f"peak traced memory {peak / 2**20:.0f} MiB"


def test_long_turn_batches_are_sliced_to_bounded_memory():
    """2,000 turns of 2k tokens (21 MiB of text; one emitter call over
    them all takes about 660 MB of tables) tagged slice by slice, as
    ``tagger.tag_stage`` runs an emitter: each call stays within the same
    32 MB of traced allocations as a 20k-token turn, and the mentions are
    the unsliced call's."""
    texts = [" ".join(synth.turn_row(90_000 + i, 0, min_frags=2_000,
                                     rng_frags=1)["text"].split(" ")[:2_000])
             for i in range(16)]
    batch = _batch([{"conv_id": f"c{i % 16}", "turn_idx": i,
                     "text": texts[i % 16]} for i in range(2_000)])
    vec = _bench_kb()[1]
    parts, peak = [], 0
    tracemalloc.start()
    try:
        for part in text_slices(batch, SLICE_TEXT_BYTES):
            # the worker sends each output on before the next call
            base = tracemalloc.get_traced_memory()[0]
            tracemalloc.reset_peak()
            parts.append(tag_record_batch(part, vec))
            peak = max(peak, tracemalloc.get_traced_memory()[1] - base)
    finally:
        tracemalloc.stop()
    assert len(parts) > 20
    assert peak < 32 * 2**20, f"peak traced memory {peak / 2**20:.0f} MiB"
    assert pa.Table.from_batches(parts).equals(
        pa.Table.from_batches([tag_record_batch(batch, vec)]))


# ---------------------------------------------------------------------------
# Tie-or-Break labels and phrase markup: the emitters vs the oracle
# ---------------------------------------------------------------------------

# synth's dictionary plus single-char separator surfaces, core and full,
# whose segments the labels skip
_SEP_SPEC = DictionarySpec(
    core=synth.dict_spec().core + [("Sep", "-")],
    full=synth.dict_spec().full + [",", "("],
    stopwords=synth.dict_spec().stopwords,
)
_WORDS = ["hash", "join", "sort", "merge", "table", "scan", "window", "agg",
          "shuffle", "filter", "big", "small", "row", "group", "the",
          "vector", "stream", "count", "query", "plan", "fast", "by", "slow",
          "batch", "clock", "HASH", "JOIN", "WINDOW", "zz", "\n", ",", "-",
          "(", "."]


def _soup(rng, n_tok):
    return " ".join(rng.choice(_WORDS) for _ in range(n_tok))


@functools.lru_cache(maxsize=None)
def _sep_kb():
    trie = build_trie(_SEP_SPEC)
    return trie, compile_vec(compile_trie(trie))


def _label_rows():
    rng = random.Random(17)
    rows = [{"conv_id": "s", "turn_idx": i,
             "text": _soup(rng, rng.randrange(0, 40))} for i in range(2000)]
    rows[5]["text"] = ""
    rows[6]["text"] = None
    rows[7]["text"] = "  \n "
    for at, n_tok in ((700, 1_000), (1400, 20_000)):
        rows.insert(at, {"conv_id": "long", "turn_idx": n_tok,
                         "text": _soup(rng, n_tok)})
    return rows


def test_label_fixture_covers_the_quirks():
    """The labels fixture holds every case the inclusive-r write and the
    sentinel drop meet: FILTERED segments followed by an entity, by a
    non-match and by the turn end, skipped separator segments, and "\\n"
    tokens inside turns."""
    trie = _sep_kb()[0]
    seen = set()
    for r in _label_rows():
        toks = [t for t in (r["text"] or "").split(" ") if t]
        segs = segment_dp(toks + ["\n"], trie)
        for a, b in zip(segs, segs[1:]):
            if a.type == "__FILTERED__" and b.type not in ("", "__FILTERED__"):
                seen.add("filtered then entity")
            if a.type == "__FILTERED__" and b.type == "" and b.r <= len(toks):
                seen.add("filtered then non-match")
            if a.type == "__FILTERED__" and a.r == len(toks):
                seen.add("filtered at turn end")
            if a.type and len(a.token) == 1 and a.token != "\n":
                seen.add("separator segment")
        if "\n" in toks:
            seen.add("newline token")
    assert seen == {"filtered then entity", "filtered then non-match",
                    "filtered at turn end", "separator segment",
                    "newline token"}


def test_label_parity_with_oracle():
    """``label_record_batch`` gives one row per source row whose labels
    are ``golden_labels``' (``oracle.segment_dp``, ``get_boundary``,
    ``get_types`` over the turn and its sentinel), for short and empty
    turns and turns of 1k and 20k tokens in one batch."""
    rows = _label_rows()
    trie, vec = _sep_kb()
    out = label_record_batch(_batch(rows), vec).to_pylist()
    assert [(r["conv_id"], r["turn_idx"]) for r in out] == [
        (r["conv_id"], r["turn_idx"]) for r in rows]
    got = [(r["conv_id"], r["turn_idx"], i, tok, b, ty, s)
           for r in out
           for i, (tok, b, ty, s) in enumerate(zip(
               r["tokens"], r["boundary"], r["types"], r["safe"]))]
    assert got == golden_labels(
        [(r["conv_id"], r["turn_idx"], r["text"]) for r in rows], trie)


_MARKUP_QUIRKS = [
    "run a <phrase>hash join</phrase> now",
    # a stray close looks the last phrase up again, ending at itself
    "a <phrase>hash join</phrase> b c</phrase>",
    "</phrase> a <phrase>stream</phrase> </phrase> x </phrase>",
    # markers stripped again until none is left
    "<phr<phrase>ase>hash join</phrase>",
    "<phrase>hash join</phr</phrase>ase>",
    # markup-only tokens are empty tokens
    "x <phrase> hash join </phrase> y",
    "<phrase></phrase> <phrase>stream</phrase>",
    # a phrase opened inside an open phrase restarts it
    "<phrase>big <phrase>hash join</phrase>",
    # full-dictionary phrases are known, as __FILTERED__; unknown ones
    # and separators give no mention
    "<phrase>fast scan</phrase> <phrase>mystery thing</phrase> "
    "<phrase>-</phrase> <phrase>,</phrase>",
    "<phrase>HASH JOIN</phrase> <phrase>Hash Join</phrase>",
    "<phrase>window agg</phrase><phrase>shuffle</phrase>",
    "", None, "   ",
]


def _marked(rng):
    """A marked line: fragments (dictionary surfaces or words), each
    perhaps wrapped in markers, with stray, nested and in-token markers;
    an open phrase is closed at the end."""
    surfaces = [s for _, s in _SEP_SPEC.core] + _SEP_SPEC.full
    toks = []
    for _ in range(rng.randrange(0, 12)):
        frag = (rng.choice(surfaces) if rng.random() < 0.5
                else rng.choice(_WORDS)).split(" ")
        if rng.random() < 0.5:
            frag[0] = "<phrase>" + frag[0]
            frag[-1] += "</phrase>"
        if rng.random() < 0.1:
            frag.append(rng.choice(["</phrase>", "<phrase>", "b</phrase>",
                                    "<phr<phrase>ase>", "<phrase>-"]))
        toks += frag
    line = " ".join(toks)
    try:
        parse_marked_line(line, _sep_kb()[0])
    except ValueError:
        line += " </phrase>"
    return line


def _markup_rows():
    rng = random.Random(23)
    texts = _MARKUP_QUIRKS + [_marked(rng) for _ in range(3000)]
    return [{"conv_id": "m", "turn_idx": i, "text": x}
            for i, x in enumerate(texts)]


def test_markup_parity_with_oracle():
    """``markup_record_batch`` emits ``extract_mentions`` of
    ``parse_marked_line`` per turn, in order, on the quirk lines and on
    random marked lines."""
    rows = _markup_rows()
    trie, vec = _sep_kb()
    want = [(r["conv_id"], r["turn_idx"], m.begin_tok, m.end_tok, m.surface,
             m.entity_type)
            for r in rows if r["text"]
            for m in extract_mentions(*parse_marked_line(r["text"], trie))]
    assert vec_tag(rows, vec, emit=markup_record_batch) == want
    assert ("m", 1, 3, 5, "b c", "Operator") in want
    assert sum(m[0] == "m" and m[1] >= len(_MARKUP_QUIRKS) for m in want) > 500


def test_markup_unclosed_phrase_raises():
    rows = [{"conv_id": "m", "turn_idx": 0, "text": "a <phrase>b</phrase>"},
            {"conv_id": "m", "turn_idx": 1, "text": "a <phrase>hash join"}]
    with pytest.raises(ValueError, match="in line: 'a <phrase>hash join'"):
        vec_tag(rows, _sep_kb()[1], emit=markup_record_batch)

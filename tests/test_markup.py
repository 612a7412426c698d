"""M11 phrase-markup front-end (annotation.h:397-476 semantics)."""

import pytest

from autoner_spark import synth
from autoner_spark.dictionary import DictionarySpec, build_trie
from autoner_spark.markup import tag_marked_transcripts
from autoner_spark.oracle import (
    extract_mentions,
    get_boundary,
    parse_marked_line,
)


@pytest.fixture(scope="module")
def trie():
    return build_trie(
        DictionarySpec(
            core=[("Operator", "hash join"), ("Object,Operator", "stream")],
            full=["fast scan"],
            stopwords=["the"],
        )
    )


def mentions(line, trie):
    raw, segs = parse_marked_line(line, trie)
    return [(m.begin_tok, m.end_tok, m.surface, m.entity_type)
            for m in extract_mentions(raw, segs)]


def test_known_phrase_typed(trie):
    assert mentions("run a <phrase>hash join</phrase> now", trie) == [
        (2, 4, "hash join", "Operator")
    ]


def test_multi_type_sorted_join(trie):
    assert mentions("<phrase>stream</phrase>", trie) == [
        (0, 1, "stream", "Object,Operator")
    ]


def test_unknown_phrase_filtered_no_mention(trie):
    line = "a <phrase>mystery thing</phrase> b"
    assert mentions(line, trie) == []
    raw, segs = parse_marked_line(line, trie)
    # each phrase token is its own FILTERED segment (annotation.h:457-462)
    filtered = [(s.l, s.r) for s in segs if s.type == "__FILTERED__"]
    assert filtered == [(1, 2), (2, 3)]
    b = get_boundary(raw + ["\n"], segs)
    assert b[1] == 0 and b[2] == 0


def test_full_dict_phrase_is_filtered_typed_segment(trie):
    # "fast scan" is in the full dict: getTypeFromKB returns __FILTERED__
    # (non-empty!) -> ONE multi-token segment with type __FILTERED__
    raw, segs = parse_marked_line("<phrase>fast scan</phrase>", trie)
    assert [(s.l, s.r, s.type) for s in segs] == [(0, 2, "__FILTERED__")]
    assert mentions("<phrase>fast scan</phrase>", trie) == []


def test_markup_inside_token_and_empty_token(trie):
    # markers stripped anywhere; a pure-marker token becomes EMPTY raw token
    raw, segs = parse_marked_line("x <phrase> hash join </phrase> y", trie)
    assert raw == ["x", "", "hash", "join", "", "y"]
    # the phrase is ["", "hash", "join", ""] -> not an exact trie path
    assert all(s.type in ("", "__FILTERED__") for s in segs)


def test_unclosed_phrase_raises(trie):
    with pytest.raises(ValueError):
        parse_marked_line("a <phrase>hash join", trie)


def test_case_sensitivity_exact_path(trie):
    # exact lookup walks inserted forms only: upper form exists, mixed no
    assert mentions("<phrase>HASH JOIN</phrase>", trie) == [
        (0, 2, "HASH JOIN", "Operator")
    ]
    assert mentions("<phrase>Hash Join</phrase>", trie) == []


def test_spark_marked_tagger(spark, trie):
    rows = [
        ("c", 0, "u", "see <phrase>hash join</phrase> here", None, None),
        ("c", 1, "u", "<phrase>stream</phrase> and <phrase>unknown x</phrase>", None, None),
        ("c", 2, "u", "", None, None),
    ]
    df = spark.createDataFrame(rows, synth.TRANSCRIPTS_DDL)
    got = {
        (r.conv_id, r.turn_idx, r.begin_tok, r.end_tok, r.surface, r.entity_type)
        for r in tag_marked_transcripts(df, trie).collect()
    }
    assert got == {
        ("c", 0, 1, 3, "hash join", "Operator"),
        ("c", 1, 0, 1, "stream", "Object,Operator"),
    }


@pytest.mark.parametrize("null_col", ["conv_id", "turn_idx"])
def test_spark_marked_tagger_carries_null_ids(spark, null_col):
    """A marked turn with a NULL conv_id or turn_idx is tagged like any
    other: the NULL is carried onto its mentions, and the other row's
    mentions are unchanged."""
    kb = build_trie(synth.dict_spec())
    ids = {"conv_id": "c", "turn_idx": 1, null_col: None}
    rows = [
        ("c", 0, "u", "see <phrase>hash join</phrase> here", None, None),
        (ids["conv_id"], ids["turn_idx"], "u",
         "<phrase>big table</phrase> x", None, None),
    ]
    df = spark.createDataFrame(rows, synth.TRANSCRIPTS_DDL)
    got = sorted((tuple(r) for r in tag_marked_transcripts(df, kb).collect()),
                 key=repr)
    assert got == sorted([
        ("c", 0, 1, 3, "hash join", "Operator"),
        (ids["conv_id"], ids["turn_idx"], 0, 2, "big table", "Object"),
    ], key=repr)

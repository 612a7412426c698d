"""build_kg as one lazy streaming pass, and the identity argument behind it.

``build_kg`` keys each entity by ``'ent:' || surface_norm`` instead of
running connected components, because every edge ``link_mentions`` can
produce is a self-loop. These tests pin the premise (Spark's
``surface_norm_col`` is ``textutil.ascii_lower``), the result (the triples
and entities equal the CC reference composition on a corpus built to break
a careless shortcut) and the shape (no job while building, one pass over
the transcripts while draining, nothing cached).
"""

from collections import Counter

from hypothesis import example, given, settings
from hypothesis import strategies as st

from autoner_spark.dictionary import DictionarySpec
from autoner_spark.textutil import ascii_lower
from autoner_spark.triples import (assemble_triples, build_kg,
                                   canonical_entities, dict_surfaces_df,
                                   link_mentions, surface_norm_col)

# Unicode case pairs the C-locale fold must leave alone (Kelvin sign K,
# dotted capital I, sharp s and its capital, final/non-final sigma), next
# to the ASCII letters it must fold
CASE_PAIRS = ["É", "é", "İ", "i̇", "ß", "ẞ", "Σ", "σ", "ς", "K", "ǅ",
              "Ω", "Ω", "ABC xyz", "Hash JOIN", "𝔄𐐀", ""]

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12)


def _norm_by_spark(spark, strings):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i int, s string")
    rows = df.select("i", surface_norm_col(df["s"]).alias("n")).collect()
    return [n for _, n in sorted(rows)]


@settings(max_examples=25, deadline=None)
@given(strings=st.lists(text_st, min_size=1, max_size=40))
@example(strings=CASE_PAIRS)
def test_surface_norm_col_is_ascii_lower(spark, strings):
    """The premise of build_kg's shortcut: the Spark normalization of a
    mention's surface and the Python one that keys the dictionary
    dimension (dict_surfaces_df) agree on any string."""
    assert _norm_by_spark(spark, strings) == [ascii_lower(s) for s in strings]


# two core surfaces share a norm (every "hash join" mention links twice),
# one core surface keeps a double space (tagged "big table", but no core
# surface links to it: dict_surface is NULL), one has a non-ASCII capital,
# and the full dictionary adds untyped (FILTERED) matches
SPEC = DictionarySpec(
    core=[("Operator", "Hash Join"), ("Operator", "hash join"),
          ("Object", "big  table"), ("Metric", "Élan Vital"),
          ("Object,Operator", "stream")],
    full=["query plan", "slow merge", "hash join"],
    stopwords=[],
)
TEXTS = [
    "the query plan uses a Hash Join over the big table",
    "HASH JOIN then stream the ÉLAN VITAL rows",
    "a slow merge of the query plan",
    "hash join hash join stream",
    "Élan Vital on the BIG TABLE",
    "",
    None,
]


def _transcripts(spark, partitions=3):
    rows = [(f"c{i % 3}", i, t) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    ).repartition(partitions)


def test_build_kg_equals_cc_reference(spark):
    from autoner_spark.tagger import tag_transcripts
    from autoner_spark.dictionary import build_trie

    kg = build_kg(spark, _transcripts(spark), SPEC)
    linked = kg["linked"]
    rows = linked.collect()
    # the driver-side dimension links exactly like link_mentions over the
    # exploded-type dictionary table
    ref_linked = link_mentions(
        tag_transcripts(_transcripts(spark), build_trie(SPEC)),
        dict_surfaces_df(spark, SPEC))
    assert Counter(map(tuple, rows)) == Counter(
        map(tuple, ref_linked.select(*linked.columns).collect()))
    # the corpus must exercise what it was built for
    per_mention = Counter(
        (r.conv_id, r.turn_idx, r.begin_tok) for r in rows
        if r.surface_norm == "hash join")
    assert per_mention and set(per_mention.values()) == {2}
    assert {r.dict_surface for r in rows
            if r.surface_norm == "hash join"} == {"Hash Join", "hash join"}
    assert any(r.dict_surface is None for r in rows)
    assert "Élan vital" in {r.surface_norm for r in rows}
    assert not {"query plan", "slow merge"} & {r.surface_norm for r in rows}

    ref_entities = canonical_entities(linked)
    want = Counter(map(tuple, assemble_triples(linked, ref_entities).collect()))
    assert Counter(map(tuple, kg["triples"].collect())) == want
    assert sorted(map(tuple, kg["entities"].collect())) == sorted(
        map(tuple, ref_entities.collect()))


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_build_kg_is_one_lazy_pass(spark):
    """Calling build_kg submits no Spark job; draining its triples reads
    each transcript row once, submits exactly the jobs of draining the
    bare mention stream, as draining the linked mentions does, and caches
    nothing."""
    from autoner_spark.caching import release_caches

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.catalog.clearCache()
    release_caches()
    seen = sc.accumulator(0)

    def count_rows(batches):
        for b in batches:
            seen.add(b.num_rows)
            yield b

    base = _transcripts(spark)
    counted = base.mapInArrow(count_rows, base.schema)

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return tracker.getJobIdsForGroup(group)

    kg = {}
    assert jobs_of("kg-build", lambda: kg.update(
        build_kg(spark, counted, SPEC))) == []

    def drain(df):
        df.write.format("noop").mode("overwrite").save()

    triple_jobs = jobs_of("kg-drain-triples", lambda: drain(kg["triples"]))
    assert seen.value == len(TEXTS)
    assert _cache_empty(spark)
    assert "InMemoryRelation" not in (
        kg["triples"]._jdf.queryExecution().optimizedPlan().toString())
    linked_jobs = jobs_of("kg-drain-linked", lambda: drain(kg["linked"]))
    mention_jobs = jobs_of("kg-drain-mentions",
                           lambda: drain(kg["mentions"]))
    # exactly the tagger's jobs: linking and the triples run inside its
    # Arrow batches, with no dimension to broadcast
    assert len(triple_jobs) == len(linked_jobs) == len(mention_jobs)


def _kg_rows(kg):
    return {k: Counter(map(tuple, kg[k].collect()))
            for k in ("linked", "triples", "entities")}


def _reference_kg(spark, transcripts, spec):
    """The composition build_kg replaces: tagger mentions, the broadcast
    join to the dictionary table, CC entities and the JVM triple
    assembly."""
    from autoner_spark.dictionary import build_trie
    from autoner_spark.tagger import tag_transcripts

    linked = link_mentions(tag_transcripts(transcripts, build_trie(spec)),
                           dict_surfaces_df(spark, spec))
    entities = canonical_entities(linked)
    return {"linked": linked, "entities": entities,
            "triples": assemble_triples(linked, entities)}


def _assert_kg_matches_reference(spark, transcripts, spec):
    kg = build_kg(spark, transcripts, spec)
    ref = _reference_kg(spark, transcripts, spec)
    ref["linked"] = ref["linked"].select(*kg["linked"].columns)
    got, want = _kg_rows(kg), _kg_rows(ref)
    for k in got:
        assert got[k] == want[k], k
    return got


# core surfaces drawn from these: "Hash Join", "hash join" and "HASH join"
# share a norm, "big  table" keeps a double space, "Élan Vital" and
# "ÉLAN vital" differ only outside ASCII case folding; the full
# dictionary adds FILTERED entries
CORE_SURFACES = ["Hash Join", "hash join", "HASH join", "big  table",
                 "Élan Vital", "ÉLAN vital", "élan vital", "stream",
                 "Stream", "query plan"]
TYPE_SETS = ["Operator", "Object", "Metric", "Object,Operator",
             "Metric,Object,Operator"]
FULL_SURFACES = ["query plan", "slow merge", "hash join", "big table",
                 "the stream"]
WORDS = ["hash", "Hash", "HASH", "join", "JOIN", "Join", "big", "BIG",
         "table", "Élan", "ÉLAN", "élan", "vital", "Vital", "stream",
         "Stream", "query", "plan", "slow", "merge", "the", ","]

spec_st = st.builds(
    lambda core, full: DictionarySpec(core=core, full=full, stopwords=[]),
    st.lists(st.tuples(st.sampled_from(TYPE_SETS),
                       st.sampled_from(CORE_SURFACES)),
             min_size=1, max_size=8),
    st.lists(st.sampled_from(FULL_SURFACES), max_size=4),
)
turn_st = st.tuples(
    st.one_of(st.none(), st.sampled_from(["c0", "c1"])),
    st.one_of(st.none(), st.integers(-2, 40)),
    st.one_of(st.none(), st.lists(st.sampled_from(WORDS), max_size=14).map(
        " ".join), st.sampled_from(["", "  hash  join  ", "BIG  TABLE"])),
)


@settings(max_examples=6, deadline=None)
@given(spec=spec_st, turns=st.lists(turn_st, min_size=1, max_size=12))
@example(spec=SPEC, turns=[(f"c{i % 3}", i, t) for i, t in enumerate(TEXTS)]
         + [(None, 7, "Hash Join stream"), ("c9", None, "big table stream"),
            (None, None, "stream")])
def test_build_kg_matches_reference_composition(spark, spec, turns):
    """build_kg's in-batch linked mentions, triples and entities are
    multiset-equal to the reference composition
    ``assemble_triples(link_mentions(tag_transcripts(...),
    dict_surfaces_df(...)), canonical_entities(...))`` for any dictionary
    over the shapes the state lookup must get right, NULL ids included."""
    transcripts = spark.createDataFrame(
        turns, "conv_id string, turn_idx int, text string").repartition(2)
    _assert_kg_matches_reference(spark, transcripts, spec)


def test_null_ids_are_carried_onto_mentions_and_triples(spark):
    """A matching turn with a NULL conv_id or turn_idx is tagged, not a
    crash: the NULL is carried onto its mentions, and the mentioned_in
    object is Spark's concat_ws('#', conv_id, turn_idx), which skips
    NULLs, as in the reference composition."""
    from autoner_spark.dictionary import build_trie
    from autoner_spark.tagger import tag_transcripts

    turns = [(None, 1, "hash join"), ("c2", None, "stream"),
             (None, None, "big table"), ("c3", 4, "Hash Join")]
    transcripts = spark.createDataFrame(
        turns, "conv_id string, turn_idx int, text string")
    mentions = tag_transcripts(transcripts, build_trie(SPEC)).collect()
    assert sorted(((r.conv_id or ""), r.turn_idx or -1, r.surface)
                  for r in mentions) == [
        ("", -1, "big table"), ("", 1, "hash join"), ("c2", -1, "stream"),
        ("c3", 4, "Hash Join")]
    got = _assert_kg_matches_reference(spark, transcripts, SPEC)
    assert {t[2] for t in got["triples"] if t[1] == "mentioned_in"} == {
        "1", "c2", "", "c3#4"}

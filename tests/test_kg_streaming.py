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
    each transcript row once, submits one job more than the tagger alone
    (the dictionary dimension's broadcast), as draining the bare linked
    mention stream does, and caches nothing."""
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
    # the tagger's jobs plus one: the dictionary dimension's broadcast
    # (no shuffle job to deduplicate it)
    assert len(triple_jobs) == len(linked_jobs) == len(mention_jobs) + 1

"""Entity linking + canonicalization + (subj, pred, obj) triple assembly.

Pipeline position (SURVEY.md §3.4): mentions (from the distributed tagger)
-> link each mention to the dictionary's canonical types -> canonicalize
surface variants into entity ids via connected components -> materialize
triples. Replaces the reference's span-TSV sink (test_partial_ner.py:99-109)
with graph tables.

Spark-first choices:
* the dictionary is tiny next to the corpus -> canonical-surface mapping is
  a **broadcast** join (never a shuffle of the mention stream);
* canonical entity ids are defined order-free (min normalized surface of the
  connected component) so results are independent of partitioning — no
  monotonically_increasing_id anywhere;
* has_type triples follow the trie's type-SET semantics: one triple per
  type in the comma-joined set (SURVEY.md §7.3 decision), exploded JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonicalize import connected_components
from .dictionary import DictionarySpec
from .textutil import ascii_lower


def surface_norm_col(col):
    """Normalized surface: ASCII-lower (matching the reference's C-locale
    tolower — the trie's case-variant insert makes ASCII-lower the natural
    equivalence key), single-spaced."""
    # Spark's lower() lowercases non-ASCII too; restrict to A-Z for parity
    # with ascii_lower by translating the 26 ASCII uppercase letters only.
    return F.translate(col, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                       "abcdefghijklmnopqrstuvwxyz")


def dict_surfaces_df(spark, spec: DictionarySpec) -> DataFrame:
    """dict_core as a small DataFrame (entity_type exploded, surface_norm
    key) — the linking dimension table."""
    rows = []
    for type_field, surface in spec.core:
        for t in type_field.split(","):
            rows.append((surface, ascii_lower(surface), t))
    return spark.createDataFrame(
        rows, "dict_surface string, surface_norm string, entity_type string"
    )


def link_mentions(mentions: DataFrame, dict_df: DataFrame) -> DataFrame:
    """Attach the dictionary's canonical surface to each mention.

    mentions(conv_id, turn_idx, begin_tok, end_tok, surface, entity_type)
    -> + surface_norm, dict_surface (null if the matched node came from a
    case-variant path whose normalized form isn't a core surface — kept,
    since the trie type is already authoritative).
    """
    dims = F.broadcast(dict_df.select("surface_norm", "dict_surface").distinct())
    m = mentions.withColumn("surface_norm", surface_norm_col(F.col("surface")))
    # mention score = the DP objective's span contribution len^2
    # (string_match.h:45) — the "scored mentions" of the north star; a
    # JVM-side expression, exactly reproducible from the span bounds.
    m = m.withColumn(
        "score",
        ((F.col("end_tok") - F.col("begin_tok"))
         * (F.col("end_tok") - F.col("begin_tok"))).cast("double"),
    )
    return m.join(dims, "surface_norm", "left")


def canonical_entities(linked: DataFrame) -> DataFrame:
    """(surface_norm, entity_id): connected components over the
    surface-variant graph.

    Edges: mention surface_norm <-> its dictionary canonical surface's
    normalized form. Surfaces sharing a dictionary surface (case variants
    collapse under surface_norm already; multi-surface aliases collapse
    through the dict node) land in one component. entity_id = 'ent:' + min
    surface_norm in the component — order-free and deterministic.
    """
    edges = (
        linked.select(
            F.col("surface_norm").alias("src"),
            F.coalesce(
                surface_norm_col(F.col("dict_surface")), F.col("surface_norm")
            ).alias("dst"),
        )
        .distinct()
    )
    comp = connected_components(edges)
    return comp.select(
        F.col("node").alias("surface_norm"),
        F.concat(F.lit("ent:"), F.col("comp")).alias("entity_id"),
    )


def triple_pair_array() -> "F.Column":
    """Per-row (pred, obj) struct array for the two triple kinds — one
    has_type entry per comma-joined type plus one mentioned_in entry —
    shared by ``assemble_triples`` and the exact-match twin in
    queries.q_kg_triples_exact so the single-pass emission stays in one
    place. Requires non-null conv_id/turn_idx columns (the mention
    contract). A NULL entity_type yields no has_type entry but still its
    mentioned_in entry (``F.concat`` with a NULL operand is NULL, which
    the explode would drop whole)."""
    return F.concat(
        F.coalesce(
            F.transform(
                F.split(F.col("entity_type"), ","),
                lambda t: F.struct(
                    F.lit("has_type").alias("pred"), t.alias("obj")
                ),
            ),
            F.array().cast("array<struct<pred:string,obj:string>>"),
        ),
        F.array(
            F.struct(
                F.lit("mentioned_in").alias("pred"),
                F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))
                .alias("obj"),
            )
        ),
    )


def explode_triple_pairs(m: DataFrame) -> DataFrame:
    """One pass over a subj-carrying mention relation -> (subj, pred, obj,
    conv_id, turn_idx); multiset-identical to the former
    has_type UNION ALL mentioned_in two-select form, without the second
    scan of the (usually cached) mention relation."""
    return m.select(
        "subj", F.explode(triple_pair_array()).alias("p"),
        "conv_id", "turn_idx",
    ).select("subj", F.col("p.pred").alias("pred"),
             F.col("p.obj").alias("obj"), "conv_id", "turn_idx")


def assemble_triples(linked: DataFrame, entities: DataFrame) -> DataFrame:
    """Materialize (subj, pred, obj, conv_id, turn_idx).

    * (entity, has_type, T) for each T in the mention's type set
    * (entity, mentioned_in, conv_id#turn_idx)
    """
    m = linked.join(F.broadcast(entities), "surface_norm", "left").withColumn(
        "subj", F.coalesce(F.col("entity_id"),
                           F.concat(F.lit("ent:"), F.col("surface_norm")))
    )
    # both triple kinds are emitted from ONE pass over the linked relation
    # (a per-row (pred, obj) array exploded), not a union of two selects:
    # the union read the persisted mention cache twice — at chain scale
    # the second full cache scan was the triples stage's dominant cost
    # (r07). Row multiset is identical to the former
    # has_type UNION ALL mentioned_in.
    return explode_triple_pairs(m)


def build_kg(spark, transcripts: DataFrame, spec: DictionarySpec,
             trie=None) -> dict[str, DataFrame]:
    """Full pipeline: transcripts -> mentions -> linked -> entities ->
    triples. Returns all intermediate DataFrames (lazy)."""
    from .dictionary import build_trie
    from .tagger import tag_transcripts

    trie = trie or build_trie(spec)
    mentions = tag_transcripts(transcripts, trie)
    dict_df = dict_surfaces_df(spark, spec)
    # linked has three consumers (CC edge set, has_type, mentioned_in);
    # persist so the tagger's mapInArrow pass runs ONCE, not per consumer —
    # the CC edge-count action populates the cache. Tracked: callers release
    # with caching.release_caches() (or kg["linked"].unpersist()) when done.
    from .caching import persist_tracked

    linked = persist_tracked(link_mentions(mentions, dict_df))
    entities = canonical_entities(linked)
    triples = assemble_triples(linked, entities)
    return {
        "mentions": mentions,
        "linked": linked,
        "entities": entities,
        "triples": triples,
    }

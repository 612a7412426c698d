"""Entity linking + canonicalization + (subj, pred, obj) triple assembly.

Pipeline position (SURVEY.md §3.4): mentions (from the distributed tagger)
-> link each mention to the dictionary's canonical surfaces -> entity ids
-> materialize triples. Replaces the reference's span-TSV sink
(test_partial_ner.py:99-109) with graph tables.

Spark-first choices:
* the dictionary is tiny next to the corpus -> it never costs a shuffle of
  the mention stream. ``build_kg`` links inside the tagger's Arrow batches:
  a match's terminal trie state fixes its surface, so the dictionary
  surfaces sharing its norm are a lookup by state, compiled into the
  automaton's one broadcast (``tagger.broadcast_automaton`` with
  ``dict_link_pairs``, as tools/run_job.py's bucket jobs do).
  ``link_mentions``, a **broadcast** join, links mentions read from a
  table: with ``canonical_entities`` and ``assemble_triples`` it is the
  reference composition ``build_kg`` is tested against;
* the entity id is ``'ent:' || surface_norm``, with no connected
  components: every edge ``link_mentions`` can produce is a self-loop (it
  joins the dictionary ON ``surface_norm``), so ``build_kg`` is one lazy
  pass with nothing cached. CC stays for queries whose edges merge nodes
  (``queries.surface_components_df``, ``dedup.cluster_victims_from_pairs``);
* ids are order-free, so results are independent of partitioning — no
  monotonically_increasing_id anywhere;
* has_type triples follow the trie's type-SET semantics: one triple per
  type in the comma-joined set (SURVEY.md §7.3 decision), emitted in the
  Arrow batch by ``build_kg`` (``tagvec.triple_record_batch``) and
  exploded JVM-side by ``assemble_triples`` and
  ``queries.q_kg_triples_exact``.
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


def dict_link_pairs(spec: DictionarySpec) -> list[tuple[str, str]]:
    """The distinct (surface_norm, dict_surface) pairs of dict_core,
    sorted: what ``link_mentions`` derives from ``dict_surfaces_df``."""
    return sorted({(ascii_lower(s), s) for _, s in spec.core})


def link_mentions(mentions: DataFrame, dict_df: DataFrame) -> DataFrame:
    """Attach the dictionary's canonical surface to each mention.

    mentions(conv_id, turn_idx, begin_tok, end_tok, surface, entity_type)
    -> + surface_norm, dict_surface (null if the matched node came from a
    case-variant path whose normalized form isn't a core surface — kept,
    since the trie type is already authoritative).
    """
    m = mentions.withColumn("surface_norm", surface_norm_col(F.col("surface")))
    # mention score = the DP objective's span contribution len^2
    # (string_match.h:45) — the "scored mentions" of the north star; a
    # JVM-side expression, exactly reproducible from the span bounds.
    m = m.withColumn(
        "score",
        ((F.col("end_tok") - F.col("begin_tok"))
         * (F.col("end_tok") - F.col("begin_tok"))).cast("double"),
    )
    dims = dict_df.select("surface_norm", "dict_surface").distinct()
    return m.join(F.broadcast(dims), "surface_norm", "left")


def canonical_entities(linked: DataFrame) -> DataFrame:
    """(surface_norm, entity_id): connected components over the
    surface-variant graph.

    Edges: mention surface_norm <-> its dictionary canonical surface's
    normalized form. Surfaces sharing a dictionary surface (case variants
    collapse under surface_norm already; multi-surface aliases collapse
    through the dict node) land in one component. entity_id = 'ent:' + min
    surface_norm in the component — order-free and deterministic.

    Over ``link_mentions`` output every edge is a self-loop (identity
    components); kept as the reference ``build_kg`` is tested against.
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
    place. conv_id/turn_idx may be NULL: ``concat_ws`` skips them in the
    mentioned_in object. A NULL entity_type yields no has_type entry but still its
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
    """Full pipeline: transcripts -> mentions, linked, entities, triples.
    All lazy: no job runs here, and nothing is cached.

    The automaton is compiled and broadcast once, by
    ``tagger.broadcast_automaton``; mentions, linked mentions and triples
    are each one narrow ``mapInArrow`` over the transcripts (``tagvec``'s
    three emitters), so draining ``triples`` is one job that tags each
    turn once: linking is a lookup by the match's trie state (the
    dictionary surfaces sharing the ``ascii_lower`` of its path), not a
    join. Multiset-equal to ``assemble_triples(link_mentions(...),
    canonical_entities(...))`` over ``tag_transcripts``' mentions
    (tests/test_kg_streaming.py)."""
    from . import tagvec
    from .dictionary import build_trie
    from .tagger import broadcast_automaton, tag_stage

    bc_vec = broadcast_automaton(spark, trie or build_trie(spec),
                                 dict_link_pairs(spec))
    src = transcripts.select("conv_id", "turn_idx", "text")
    linked = tag_stage(src, bc_vec, tagvec.link_record_batch,
                       tagvec.LINKED_SCHEMA)
    return {
        "mentions": tag_stage(src, bc_vec, tagvec.tag_record_batch,
                              tagvec.OUT_SCHEMA),
        "linked": linked,
        "entities": linked.selectExpr(
            "surface_norm", "'ent:' || surface_norm AS entity_id").distinct(),
        "triples": tag_stage(src, bc_vec, tagvec.triple_record_batch,
                             tagvec.TRIPLES_SCHEMA),
    }

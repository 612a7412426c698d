"""Cache hygiene: tracked persist() sites must be releasable in one call.

Every internal persist() in the library goes through
caching.persist_tracked; after consuming a query's result and calling
release_caches(), the session's CacheManager must be EMPTY — a long-lived
session running the whole gate must not accumulate dead cached lineages.
"""

SF = "/root/testdata/sf0.001"

# every gate query whose implementation persists an internal subtree
PERSIST_BEARING = [
    "kg_triples_exact",
    "kg_eval_pr",
    "kg_eval_chunking",
    "kg_eval_typing",
    "dedup_ngram_jaccard",  # grouped shingle relation
    "dedup_apply_ngram",
    "dedup_minhash_verified",  # shared shingle relation (verify pass)
    "dedup_simhash_pairs",     # shared signature relation
    "kg_pagerank",             # persisted symmetric edge list
    "kg_triangles",            # persisted oriented edge list
    "kg_label_propagation",    # persisted symmetric edge list
    "text_unigram_surprisal",  # persisted token stream (model + scoring)
    "text_bm25_topk",          # persisted query-term postings (tf)
    "rel_bloom_semijoin",      # persisted keys/occupied/probes relations
    "dedup_jaccard_prefix",    # persisted capped shingle relation
    "dedup_jaccard_routed",    # whichever routed form runs persists
    "kg_entity_pmi",           # persisted per-turn mention relation
    "kg_common_neighbors",     # persisted symmetric edge list
    "kg_kcore",                # persisted edge list across peel rounds
    "kg_triple_support",       # composes kg_triples_exact's persist
    "text_substring_dedup",    # persisted positional window relation
    "kg_two_hop",              # persisted symmetric edge list
    "text_domain_mix",         # persisted per-source aggregate
    "kg_adamic_adar",          # persisted symmetric edge list
    "rel_important_parts",     # persisted per-part aggregate (total+filter)
    "rel_top_supplier",        # persisted per-supplier aggregate (max+filter)
    "text_bigram_surprisal",   # persisted bigram relation (model + scoring)
    "kg_pagerank_personalized",  # persisted symmetric edge list
    "dedup_minhash_estimate",  # persisted signature + shingle relations
    "text_source_overlap",     # persisted source-keyed shingle relation
    "kg_random_walks",         # persisted symmetric edge list
    "kg_clustering_coeff",     # persisted canonical pair relation (r06)
    "kg_assortativity",        # persisted edge list + degree relation
]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_release_caches_empties_cache_manager(spark):
    from autoner_spark.caching import release_caches
    from autoner_spark.queries import QUERIES

    spark.catalog.clearCache()
    release_caches()
    assert _cache_empty(spark)

    for name in PERSIST_BEARING:
        QUERIES[name](spark, SF).count()
        assert not _cache_empty(spark), (
            f"{name} should persist an internal subtree (fixture drift?)"
        )
        released = release_caches()
        assert released >= 1
        assert _cache_empty(spark), f"{name} left a resident cache"


def test_kg_triples_dp_leaves_no_cache(spark):
    """build_kg is one lazy pass: draining kg_triples_dp caches nothing
    and tracks nothing, so the CacheManager is empty WITHOUT a
    release_caches() call."""
    from autoner_spark.caching import release_caches
    from autoner_spark.queries import QUERIES

    spark.catalog.clearCache()
    release_caches()
    assert QUERIES["kg_triples_dp"](spark, SF).count() > 0
    assert _cache_empty(spark)
    assert release_caches() == 0


def test_release_caches_idempotent_and_safe(spark):
    from autoner_spark.caching import persist_tracked, release_caches

    release_caches()
    df = persist_tracked(spark.range(10))
    assert df.count() == 10
    assert release_caches() == 1
    assert release_caches() == 0  # nothing tracked twice
    # releasing before the action is safe (recompute, not wrong results)
    df2 = persist_tracked(spark.range(5))
    release_caches()
    assert df2.count() == 5

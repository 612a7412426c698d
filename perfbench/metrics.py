"""Metric names and units: the single list BENCHMARK.json mirrors."""

E2E = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "1/s",
    "worker_peak_rss_mb": "MB",
}

# operator leaves timed by chain_long's traced run: the kg family's
# co-occurrence graph (kg_pagerank's input; the pagerank twin takes 20 s and
# 6.5 GB in DuckDB at this size), the two largest dedup leaves, the
# similarity leaf, and two text leaves (BM25 ranking, and token statistics
# through autoner_spark.textstats)
OPS_LEAVES = [
    "kg_cooccurrence",
    "dedup_minhash_verified",
    "dedup_jaccard_routed",
    "sim_topk_cosine",
    "text_bm25_topk",
    "text_token_stats",
]

PER_LAYER = {
    "session.start_s": "s",
    "dictionary.build_trie_s": "s",
    "tagger.compile_trie_s": "s",
    "tagvec.compile_vec_s": "s",
    "tagvec.states": "count",
    "tagvec.vocab": "count",
    "tagger.tag_s": "s",
    "tagger.mentions": "count",
    "tagger.turns_per_s": "1/s",
    "tagger.wall_share": "ratio",
    "tagvec.batch_ms_p50": "ms",
    "tagvec.batch_ms_p99": "ms",
    "tagvec.tokens_per_s": "1/s",
    "tagvec.match_turn_ratio": "ratio",
    "tagvec.max_turn_tokens": "count",
    "tagvec.batch_peak_rss_mb": "MB",
    "tagvec.wall_share": "ratio",
    "triples.tag_link_s": "s",
    "triples.cc_s": "s",
    "triples.assemble_s": "s",
    "triples.n_triples": "count",
    "canonicalize.edges": "count",
    "canonicalize.components": "count",
    "lineage.job_s": "s",
    "lineage.job_turns_per_s": "1/s",
    "lineage.bucketize_s": "s",
    "lineage.tag_resumable_s": "s",
    "lineage.bucket_s_p50": "s",
    "lineage.bucket_s_max": "s",
    "lineage.tasks_per_bucket": "count",
    "lineage.resume_noop_s": "s",
    "lineage.scale_eff": "ratio",
    "lineage.wall_share": "ratio",
    "catalog.write_s": "s",
    "catalog.read_s": "s",
    "ops.wall_s": "s",
    **{f"ops.{leaf}_s": "s" for leaf in OPS_LEAVES},
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
    "spark.python_run_s": "s",
    "spark.python_bytes_sent_mb": "MB",
    "spark.planning_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}

# span name -> per-layer metric fed by that span's self time
SPAN_METRICS = {
    "session.get_spark": "session.start_s",
    "dictionary.build_trie": "dictionary.build_trie_s",
    "tagger.compile_trie": "tagger.compile_trie_s",
    "tagvec.compile_vec": "tagvec.compile_vec_s",
    "triples.tag_link": "triples.tag_link_s",
    "triples.cc": "triples.cc_s",
    "triples.assemble": "triples.assemble_s",
    "lineage.bucketize": "lineage.bucketize_s",
    "lineage.tag_resumable": "lineage.tag_resumable_s",
    "lineage.resume_noop": "lineage.resume_noop_s",
    "catalog.write": "catalog.write_s",
    "catalog.read": "catalog.read_s",
    "spark.planning": "spark.planning_s",
    **{f"ops.{leaf}": f"ops.{leaf}_s" for leaf in OPS_LEAVES},
}

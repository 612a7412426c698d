"""spark-submit entry point: transcripts -> triples, resumable.

Usage (the north_rule's deployment shape):

    python tools/package.py                      # build dist/autoner_spark.zip
    spark-submit --master local[32] \
        --py-files dist/autoner_spark.zip \
        tools/run_job.py --out /tmp/kg_run --n-convs 2000 --buckets 8

Reruns skip completed buckets (per-partition lineage); pass --sf-dir to tag
documents-derived transcripts instead of synthetic ones.
"""

from __future__ import annotations

import argparse
import json


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--out", required=True)
    p.add_argument("--n-convs", type=int, default=1000)
    p.add_argument("--sf-dir", default=None,
                   help="derive transcripts from <sf-dir>/documents.parquet "
                        "instead of synthesizing")
    p.add_argument("--buckets", type=int, default=8)
    p.add_argument("--dedup", choices=["exact", "minhash"], default=None,
                   help="pre-stage: drop duplicate documents before "
                        "deriving transcripts (exact = md5 families, keep "
                        "min id; minhash = LSH+verify near-dup pairs "
                        "closed into connected components, keep min id "
                        "per cluster). Requires --sf-dir.")
    return p.parse_args(argv)


def run(spark, args: argparse.Namespace) -> dict:
    """The job on ``spark``: bucketize (first run only), tag the buckets
    not yet done, write the triples table; returns the run report. Never
    stops ``spark``."""
    from autoner_spark import synth
    from autoner_spark.dictionary import build_trie
    from autoner_spark.lineage import (
        bucketize_transcripts,
        completed_buckets,
        metrics_df,
        tag_resumable,
    )
    from autoner_spark.triples import kg_from_mentions

    n_docs_dropped = 0
    if args.sf_dir:
        from autoner_spark.queries import (
            kg_dict_spec,
            load_parallel,
            transcripts_df,
        )

        spec = kg_dict_spec()
        docs = None
        if args.dedup:
            # pre-stage: corpus dedup BEFORE tagging — the standard
            # training-pipeline composition. Both branches broadcast only
            # the VICTIM ids (family-bounded, far below corpus size) in a
            # left_anti join, so the corpus never shuffles; the former
            # exact branch broadcast the SURVIVOR set (~corpus-sized on a
            # mostly-unique corpus — driver OOM at scale) and the former
            # minhash rule dropped id_b's only (kept two representatives
            # for clusters shaped (a,c),(b,c)). See dedup.apply_corpus_dedup.
            from autoner_spark.dedup import apply_corpus_dedup

            docs = load_parallel(spark, args.sf_dir, "documents")
            deduped = apply_corpus_dedup(docs, args.dedup)
            n_docs_dropped = docs.count() - deduped.count()
            docs = deduped
        transcripts = transcripts_df(spark, args.sf_dir, docs=docs)
    elif args.dedup:
        raise SystemExit("--dedup requires --sf-dir (documents corpus)")
    else:
        spec = synth.dict_spec()
        transcripts = synth.synth_transcripts(spark, args.n_convs)

    trie = build_trie(spec)

    done_before = completed_buckets(args.out)
    if not done_before:
        bucketize_transcripts(transcripts, args.out, args.buckets)
    mentions = tag_resumable(spark, trie, args.out, args.buckets)

    # build_kg's composition over the resumable mentions: one lazy pass
    triples = kg_from_mentions(spark, mentions, spec)["triples"]
    # triples sink goes through the catalog layer: Iceberg writeTo when the
    # runtime jar is on the classpath (--packages org.apache.iceberg:...),
    # the partitioned-parquet layout otherwise
    from autoner_spark.catalog import TableCatalog

    cat = TableCatalog(spark, args.out)
    cat.create_or_replace(triples, "triples")

    n_triples = cat.read("triples").count()
    metrics = [r.asDict() for r in metrics_df(spark, args.out).collect()]
    return {
        "buckets_skipped": sorted(done_before),
        "n_triples": n_triples,
        "n_docs_dropped_by_dedup": n_docs_dropped,
        "lineage": metrics,
    }


def main() -> None:
    args = parse_args()

    # spark-submit provides the session config (master, --py-files)
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("autoner-kg-job").getOrCreate()
    print(json.dumps(run(spark, args)))
    from autoner_spark.caching import release_caches

    release_caches()  # library calls persist via the tracked registry
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entry point: transcripts -> triples, resumable.

Usage (the north_rule's deployment shape):

    python tools/package.py                      # build dist/autoner_spark.zip
    spark-submit --master local[32] \
        --py-files dist/autoner_spark.zip \
        tools/run_job.py --out /tmp/kg_run --n-convs 2000 --buckets 8

Each bucket is one Spark job that writes build_kg's triples to
<out>/triples/bucket=N, the catalog's triples table; reruns skip completed
buckets (per-partition lineage). Pass --sf-dir to tag documents-derived
transcripts instead of synthetic ones.
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


def _transcripts(spark, args: argparse.Namespace):
    """The corpus to bucketize, and the number of documents its dedup
    pre-stage dropped."""
    from autoner_spark import synth

    if not args.sf_dir:
        return synth.synth_transcripts(spark, args.n_convs), 0
    from autoner_spark.queries import load_parallel, transcripts_df

    docs, n_dropped = None, 0
    if args.dedup:
        # pre-stage: corpus dedup BEFORE tagging, the standard
        # training-pipeline composition; it broadcasts only the victim
        # ids, so the corpus never shuffles (dedup.apply_corpus_dedup)
        from autoner_spark.dedup import apply_corpus_dedup

        docs = load_parallel(spark, args.sf_dir, "documents")
        deduped = apply_corpus_dedup(docs, args.dedup)
        n_dropped = docs.count() - deduped.count()
        docs = deduped
    return transcripts_df(spark, args.sf_dir, docs=docs), n_dropped


def run(spark, args: argparse.Namespace) -> dict:
    """The job on ``spark``: bucketize (first run only), then tag the
    buckets not yet done, each bucket one job writing ``build_kg``'s
    triples to ``<out>/triples/bucket=N``; returns the run report. A rerun
    with every bucket done submits no Spark job. Never stops ``spark``."""
    from autoner_spark import synth, tagvec
    from autoner_spark.catalog import TableCatalog
    from autoner_spark.dictionary import build_trie
    from autoner_spark.lineage import (
        bucketize_transcripts,
        completed_buckets,
        read_lineage,
        tag_buckets,
    )
    from autoner_spark.tagger import broadcast_automaton
    from autoner_spark.triples import dict_link_pairs

    if args.dedup and not args.sf_dir:
        raise SystemExit("--dedup requires --sf-dir (documents corpus)")
    if args.sf_dir:
        from autoner_spark.queries import kg_dict_spec

        spec = kg_dict_spec()
    else:
        spec = synth.dict_spec()
    n_docs_dropped = 0
    done_before = completed_buckets(args.out)
    if not done_before:
        # a resumed run tags from the bucketed copy: the corpus is read
        # (and deduplicated) by the first run only
        transcripts, n_docs_dropped = _transcripts(spark, args)
        bucketize_transcripts(transcripts, args.out, args.buckets)

    # build_kg's triples, bucket by bucket: out/triples/bucket=N is the
    # parquet catalog's triples table, so the committed buckets are the
    # table. Iceberg (runtime jar on the classpath) copies them into its
    # own table once per run.
    triples = tag_buckets(
        spark, args.out, args.buckets, "triples",
        lambda: broadcast_automaton(spark, build_trie(spec),
                                    dict_link_pairs(spec)),
        tagvec.triple_record_batch, tagvec.TRIPLES_SCHEMA)
    cat = TableCatalog(spark, args.out)
    if cat.use_iceberg:
        cat.create_or_replace(triples, "triples", partition_by=("bucket",))
    lineage = read_lineage(args.out)
    return {
        "buckets_skipped": sorted(done_before),
        "n_triples": sum(r["n_rows"] for r in lineage),
        "n_docs_dropped_by_dedup": n_docs_dropped,
        "lineage": lineage,
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

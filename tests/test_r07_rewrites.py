"""r07 optimization rewrites vs their former relational forms.

Each optimized operator is compared against a straightforward relational
recomputation on randomized fixtures — the shapes the r07 round replaced
(explode->distinct, explode->window->lead, explode->groupBy counting) so
the plan-level rewrites stay pinned independent of the DuckDB twins."""

import random

import pytest

from pyspark.sql import functions as F


def _random_docs(spark, seed, n_docs=60, with_dups=True):
    rng = random.Random(seed)
    words = ["a", "b", "c", "dd", "ee", "ff", "gg", "xyz"]
    rows = []
    for i in range(n_docs):
        k = rng.randrange(0, 12)
        toks = [rng.choice(words) for _ in range(k)]
        if with_dups and k >= 6 and rng.random() < 0.5:
            toks = toks[:3] * 3  # force repeated shingles
        rows.append((i, " ".join(toks), f"src{i % 3}"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_shingles_df_inrow_distinct_matches_global(spark):
    from autoner_spark.dedup import shingles_df

    docs = _random_docs(spark, 1)
    fast = shingles_df(docs, n=3)
    slow = shingles_df(docs, n=3, distinct=False).distinct()
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )


def test_shingles_df_non_unique_id_keeps_global_distinct(spark):
    from autoner_spark.dedup import shingles_df

    docs = _random_docs(spark, 2)
    fast = shingles_df(docs, n=2, id_col="source", id_unique=False)
    slow = shingles_df(docs, n=2, id_col="source",
                       distinct=False).distinct()
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )


def test_repetition_stats_matches_relational_recount(spark):
    from autoner_spark.dedup import shingles_df
    from autoner_spark.textstats import repetition_stats

    docs = _random_docs(spark, 3, n_docs=120)
    got = {r.id: (r.n_shingles, r.max_repeat, r.rep_ratio)
           for r in repetition_stats(docs, n=3).collect()}
    per = (
        shingles_df(docs, 3, distinct=False)
        .groupBy("id", "shingle").agg(F.count("*").alias("c"))
    )
    from autoner_spark.money import half_up_scaled

    agg = per.groupBy("id").agg(
        F.sum("c").alias("_tot"),
        F.max("c").cast("int").alias("max_repeat"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("_dup"),
    ).select(
        "id", F.col("_tot").cast("int").alias("n_shingles"), "max_repeat",
        (half_up_scaled("_dup", "_tot", 1_000_000)
         / F.lit(1000000.0)).alias("rep_ratio"),
    )
    want = {r.id: (r.n_shingles, r.max_repeat, r.rep_ratio)
            for r in agg.collect()}
    assert got == want
    assert want, "fixture must produce shingled docs"


def test_bigram_relation_matches_window_form(spark, tmp_path):
    """The in-row bigram construction behind text_bigram_surprisal must
    emit exactly the lead()-window bigram multiset."""
    docs = _random_docs(spark, 4)
    sf = tmp_path / "sf"
    sf.mkdir()
    docs.write.parquet(str(sf / "documents.parquet"))

    from autoner_spark.queries import q_text_bigram_surprisal

    got = sorted(
        map(tuple, q_text_bigram_surprisal(spark, str(sf)).collect())
    )

    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " "))
    ).toDF("doc_id", "pos", "tok")
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        "doc_id", F.col("tok").alias("w1"),
        F.lead("tok", 1).over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    c12 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bi.groupBy("w1").agg(F.count("*").alias("c1"))
    model = c12.join(c1, "w1").select(
        "w1", "w2", F.log(F.col("c12") / F.col("c1")).alias("logp")
    )
    want = sorted(map(tuple, (
        bi.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_bigrams"),
             F.round(-F.avg("logp"), 6).alias("surprisal_nats"))
    ).collect()))
    assert got == want
    assert got, "fixture must produce bigrams"


def test_minhash_lsh_pairs_accepts_shared_signatures(spark):
    from autoner_spark.dedup import minhash_lsh_pairs, minhash_signatures

    docs = _random_docs(spark, 5)
    plain = minhash_lsh_pairs(docs, num_hashes=8, band_size=4, n=2)
    sig = minhash_signatures(docs, num_hashes=8, n=2)
    shared = minhash_lsh_pairs(docs, num_hashes=8, band_size=4, n=2,
                               signatures=sig)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, shared.collect())
    )


@pytest.mark.parametrize("n_types", [1, 3])
def test_assemble_triples_single_pass_multiset(spark, n_types):
    from autoner_spark.triples import assemble_triples

    linked = spark.createDataFrame(
        [("c0", 0, "s a", ",".join(f"T{i}" for i in range(n_types)), "s a"),
         ("c0", 1, "b", "T0", "b")],
        "conv_id string, turn_idx int, surface string, "
        "entity_type string, surface_norm string",
    )
    entities = spark.createDataFrame(
        [("s a", "ent:s a")], "surface_norm string, entity_id string"
    )
    rows = sorted(map(tuple, assemble_triples(linked, entities).collect()))
    want = []
    for conv, turn, _s, types, norm in [
        ("c0", 0, "s a", ",".join(f"T{i}" for i in range(n_types)), "s a"),
        ("c0", 1, "b", "T0", "b"),
    ]:
        subj = "ent:s a" if norm == "s a" else f"ent:{norm}"
        for t in types.split(","):
            want.append((subj, "has_type", t, conv, turn))
        want.append((subj, "mentioned_in", f"{conv}#{turn}", conv, turn))
    assert rows == sorted(want)


def test_assemble_triples_null_type_keeps_mentioned_in(spark):
    """A mention whose entity_type is NULL emits no has_type triple but
    still its mentioned_in triple."""
    from autoner_spark.triples import assemble_triples

    linked = spark.createDataFrame(
        [("c0", 0, "a", None, "a"), ("c0", 1, "b", "T0", "b")],
        "conv_id string, turn_idx int, surface string, "
        "entity_type string, surface_norm string",
    )
    entities = spark.createDataFrame(
        [("a", "ent:a")], "surface_norm string, entity_id string"
    )
    rows = sorted(map(tuple, assemble_triples(linked, entities).collect()))
    assert rows == sorted([
        ("ent:a", "mentioned_in", "c0#0", "c0", 0),
        ("ent:b", "has_type", "T0", "c0", 1),
        ("ent:b", "mentioned_in", "c0#1", "c0", 1),
    ])

"""Round-5 fix pins: lazy/explicit hyperplane dim (no eager job at plan
build) and the cross-task embedding-width guard on the Arrow LSH path."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(autouse=True)
def _release(spark):
    yield
    from autoner_spark.caching import release_caches

    release_caches()


def _poison(spark, dim):
    # a DataFrame that ANALYZES fine but raises if any job executes:
    # plan construction must not touch it
    fail = F.udf(lambda: (_ for _ in ()).throw(RuntimeError("eager job!")),
                 "int")
    return spark.range(2).select(
        F.col("id").alias("vec_id"),
        F.array(*[fail() * 0.0 for _ in range(dim)]).alias("embedding"),
    )


def test_hyperplane_bits_explicit_dim_builds_plan_without_job(spark):
    from autoner_spark.similarity import hyperplane_bits, lsh_band_buckets

    poisoned = _poison(spark, 4)
    # explicit dim: plan builds with no eager first() — no job, no raise
    hyperplane_bits(poisoned, 8, dim=4)
    lsh_band_buckets(poisoned, 4, 2, dim=4)
    # dim=None falls back to the probing first() and must hit the poison
    with pytest.raises(Exception, match="eager job"):
        hyperplane_bits(poisoned, 8)


def test_hyperplane_bits_dim_param_matches_inferred(spark):
    from autoner_spark.similarity import hyperplane_bits

    vecs = spark.createDataFrame(
        [(0, [0.5, -0.2, 0.1]), (1, [-0.3, 0.9, 0.4])],
        "vec_id long, embedding array<double>",
    )
    a = {tuple(r) for r in hyperplane_bits(vecs, 8).collect()}
    b = {tuple(r) for r in hyperplane_bits(vecs, 8, dim=3).collect()}
    assert a == b and len(a) == 16


def test_arrow_lsh_mixed_widths_fail_instead_of_silent_garbage(spark):
    # zero vectors of DIFFERENT widths bucket to 0 in every band under
    # any hyperplane matrix, so they always collide — the per-bucket
    # width guard must fail the query rather than emit cross-width pairs
    from autoner_spark.similarity import embedding_lsh_pairs

    mixed = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [0.0] * 4), (2, [0.0] * 8), (3, [0.0] * 8)],
        "vec_id long, embedding array<double>",
    ).repartition(4)  # widths land in separate tasks: in-task check blind
    with pytest.raises(Exception, match="mixed embedding widths"):
        embedding_lsh_pairs(mixed, threshold=0.0, bits_per_band=4,
                            n_bands=2).collect()


def test_arrow_lsh_uniform_width_still_matches_join_form(spark):
    # the width guard must not change results on a healthy corpus: the
    # Arrow buckets equal the relational (join-form) buckets, and the
    # guarded pairs (dim inferred) equal the unguarded ones (dim given)
    from autoner_spark.similarity import (
        embedding_lsh_pairs,
        lsh_band_buckets,
        lsh_band_buckets_arrow,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3) - 1.0, 0.5, -0.25, float(i) / 10]) for i in
         range(12)],
        "vec_id long, embedding array<double>",
    )
    arrow_b = {tuple(r) for r in lsh_band_buckets_arrow(vecs, 4, 2).collect()}
    join_b = {tuple(r) for r in lsh_band_buckets(vecs, 4, 2).collect()}
    assert arrow_b == join_b and arrow_b

    guarded = {(r.id_a, r.id_b, r.cosine)
               for r in embedding_lsh_pairs(vecs, threshold=0.9,
                                            bits_per_band=4,
                                            n_bands=2).collect()}
    given = {(r.id_a, r.id_b, r.cosine)
             for r in embedding_lsh_pairs(vecs, threshold=0.9,
                                          bits_per_band=4, n_bands=2,
                                          dim=4).collect()}
    assert guarded == given and guarded

"""Dedup / similarity / textstats / multimodal operators (sf0.001 data)."""

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_partition_invariance(spark, docs):
    from autoner_spark.dedup import exact_dedup

    a = {tuple(r) for r in exact_dedup(docs.repartition(1)).collect()}
    b = {tuple(r) for r in exact_dedup(docs.repartition(13)).collect()}
    assert a == b
    assert sum(r[2] for r in a) == docs.count()


def test_near_dup_methods_agree(spark, docs):
    """The corpus has built-in near-duplicate pairs; jaccard and
    minhash-LSH must both surface them, and LSH candidates at 4 full bands
    must be (near-)duplicates by jaccard."""
    from autoner_spark.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.n_bands
        for r in minhash_lsh_pairs(docs, num_hashes=16, band_size=4).collect()
    }
    assert jac, "fixture corpus should contain near-dup pairs"
    # every high-jaccard pair collides in at least one LSH band
    missed = [p for p, j in jac.items() if j > 0.9 and p not in lsh]
    assert not missed
    # full-signature collisions are real near-dups
    for pair, bands in lsh.items():
        if bands == 4:
            assert jac.get(pair, 0) > 0.5


def test_shingles_short_docs_yield_none(spark):
    """Documents with fewer than n tokens must produce zero shingles (not
    crash): Spark's sequence(0,-1) is descending, which would abort slice().
    Matches the SQL twins' `t3 IS NOT NULL` semantics."""
    from autoner_spark.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, shingles_df

    docs = spark.createDataFrame(
        [(0, "one"), (1, "one two"), (2, "one two three"),
         (3, "one two three four")],
        "doc_id long, text string",
    )
    got = {(r.id, r.shingle) for r in shingles_df(docs, n=3).collect()}
    assert got == {
        (2, "one two three"),
        (3, "one two three"), (3, "two three four"),
    }
    # downstream ops must survive short docs too
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.1).count() >= 0
    assert minhash_lsh_pairs(docs, num_hashes=4, band_size=2).count() >= 0


def test_lsh_bucket_cap_drops_hot_buckets(spark):
    """The max_bucket_size skew guard must actually drop oversized buckets:
    100 byte-identical docs collide in every band, so an uncapped run emits
    C(100,2) pairs per band while a cap of 10 emits none from that family."""
    from autoner_spark.dedup import minhash_lsh_pairs

    boiler = [(i, "alpha beta gamma delta epsilon zeta") for i in range(100)]
    near = [(200, "one two three four five six seven"),
            (201, "one two three four five six eight")]
    docs = spark.createDataFrame(boiler + near, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(docs, num_hashes=8, band_size=2,
                                 max_bucket_size=None).collect()
    capped = minhash_lsh_pairs(docs, num_hashes=8, band_size=2,
                               max_bucket_size=10).collect()
    boiler_pairs = [r for r in uncapped if r.id_a < 100 and r.id_b < 100]
    assert len(boiler_pairs) == 100 * 99 // 2
    assert not [r for r in capped if r.id_a < 100], "cap failed to drop hot bucket"
    # the small genuine near-dup family survives the cap
    assert {(r.id_a, r.id_b) for r in capped} == {(200, 201)}
    assert {(r.id_a, r.id_b) for r in uncapped} >= {(200, 201)}


def test_decontaminate_flags_overlap_only(spark):
    """Decontamination: exactly the documents sharing an n-gram with the
    benchmark are flagged; benchmark members themselves never are."""
    from autoner_spark.dedup import decontaminate

    rows = [
        (0, "alpha beta gamma delta epsilon"),        # benchmark
        (1, "x alpha beta gamma delta y"),            # contaminated (4-gram)
        (2, "alpha beta gamma zeta delta epsilon"),   # no shared 4-gram
        (3, "completely different words here now"),   # clean
        (20, "alpha beta gamma delta omega"),         # contaminated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter("doc_id = 0")
    got = {r.doc_id: r.n_shared_ngrams
           for r in decontaminate(docs, bench, n=4).collect()}
    assert got == {1: 1, 20: 1}


def test_simhash_similar_docs_close(spark, docs):
    from autoner_spark.dedup import ngram_jaccard_pairs, simhash

    sh = {r.id: r.simhash for r in simhash(docs).collect()}
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.9).collect()
    assert pairs
    for p in pairs:
        hamming = bin(sh[p.id_a] ^ sh[p.id_b]).count("1")
        assert hamming <= 6, f"near-dup pair {p} has hamming {hamming}"
    assert all(0 <= v < 2**32 for v in sh.values())


def test_brute_force_topk_matches_numpy(spark, emb):
    import numpy as np

    from autoner_spark.similarity import brute_force_topk, queries_from_ids

    got = brute_force_topk(emb, queries_from_ids(emb, 3), k=5).collect()
    rows = emb.orderBy("vec_id").collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    for q in range(3):
        qi = int(np.where(ids == q)[0][0])
        cos = mat @ mat[qi] / (norms * norms[qi])
        cos[qi] = -2  # exclude self
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:5]
        want = [int(ids[i]) for i in order]
        have = [r.vec_id for r in sorted(got, key=lambda r: (r.query_id, r.rnk))
                if r.query_id == q]
        assert have == want


def test_ivf_topk_subset_of_cluster(spark, emb):
    from autoner_spark.similarity import ivf_assign, ivf_centroids, ivf_topk

    topk = ivf_topk(emb, k=3, n_centroids=16, max_query_id=5).collect()
    assert topk
    assign = {r.vec_id: r.centroid_id for r in
              ivf_assign(emb, ivf_centroids(emb, 16)).collect()}
    for r in topk:
        assert assign[r.query_id] == assign[r.vec_id]  # nprobe=1 invariant


def test_ivf_centroid_count_independent_of_n(spark, emb):
    """The coarse quantizer must stay FIXED-k as the corpus grows (an
    every-Nth rule makes assignment O(N^2/every) at scale) and be a
    deterministic subset choice."""
    from autoner_spark.similarity import ivf_centroids

    base = emb.select("vec_id", "embedding")
    small = ivf_centroids(base.limit(100), k=16)
    big = ivf_centroids(base.union(base.selectExpr(
        "vec_id + 100000 AS vec_id", "embedding")), k=16)
    assert small.count() == 16
    assert big.count() == 16  # doubled corpus, same centroid count
    a = {r.centroid_id for r in ivf_centroids(emb, k=16).collect()}
    b = {r.centroid_id for r in ivf_centroids(emb.repartition(7), k=16).collect()}
    assert a == b  # partitioning-independent


def test_embedding_lsh_finds_rescaled_duplicates(spark, emb):
    """Sign-LSH recall for sign-identical vectors is structural (every band
    collides), and the plan must contain NO cartesian product — that is the
    whole point vs the brute-force baseline."""
    from pyspark.sql import functions as F

    from autoner_spark.similarity import embedding_lsh_pairs

    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    copies = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    out = embedding_lsh_pairs(base.unionByName(copies), threshold=0.99)
    got = {(r.id_a, r.id_b): r.cosine for r in out.collect()}
    assert set(got) == {(i, i + 5000) for i in range(10)}
    assert all(abs(c - 1.0) < 1e-6 for c in got.values())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan

    # empty input: no crash, empty result (regression: dim discovery used
    # first()[0] which is None-unsafe)
    empty = base.filter("vec_id < 0")
    assert embedding_lsh_pairs(empty, threshold=0.99).count() == 0


def test_langid_real_sentences(spark):
    from autoner_spark.textstats import lang_id

    df = spark.createDataFrame(
        [
            (0, "the cat is on the table and the dog is here"),
            (1, "le chat est sur la table et les chiens"),
            (2, "der hund ist gross und die katze ist klein"),
            (3, "el perro es grande y los gatos"),
            (4, "xyzzy plugh quux"),
        ],
        "doc_id long, text string",
    )
    got = {r.id: r.lang_pred for r in lang_id(df).collect()}
    assert got == {0: "en", 1: "fr", 2: "de", 3: "es", 4: "und"}


def test_quality_and_stats(spark, docs):
    from autoner_spark.textstats import quality_score, token_stats

    q = quality_score(docs).collect()
    assert all(0 <= r.quality <= 1 for r in q)
    s = token_stats(docs).collect()
    assert all(r.n_tokens > 0 and r.n_chars >= r.n_tokens for r in s)


def test_multimodal_plumbing(spark, docs):
    from autoner_spark.multimodal import (
        decode_features,
        fake_decoder,
        frame_sample,
        require_real_decoder,
        synth_manifest,
    )

    man = synth_manifest(docs).cache()
    assert man.schema["payload"].dataType.typeName() == "binary"
    feats = decode_features(man, decoder=fake_decoder)
    rows = feats.collect()
    assert all(r.n_bytes == 16 for r in rows)  # md5 = 16 bytes
    assert all(len(r.feat) == 8 for r in rows)
    # deterministic across partitioning
    again = {
        (r.item_id, tuple(r.feat))
        for r in decode_features(man.repartition(7)).collect()
    }
    assert again == {(r.item_id, tuple(r.feat)) for r in rows}

    fs = frame_sample(man, every=30)
    per = fs.groupBy("item_id").count().collect()
    meta = {r.item_id: r.n_frames for r in man.filter("modality='video'").collect()}
    for r in per:
        assert r["count"] == (meta[r.item_id] - 1) // 30 + 1

    with pytest.raises(NotImplementedError):
        require_real_decoder(b"", 1, 1)

def test_pack_token_bins_two_pass_equals_naive(spark):
    """One dominant source (the scale-killer shape for a per-source window):
    the two-pass prefix-sum packing must equal the naive single-window form
    exactly, and its plan must not window-partition by source alone."""
    from pyspark.sql.window import Window

    from autoner_spark.textstats import pack_token_bins

    rows = [(i, "web" if i % 50 else "books", "tok " * (3 + i % 7))
            for i in range(997)]
    docs = spark.createDataFrame(
        [(i, s, t.strip()) for i, s, t in rows],
        "doc_id long, source string, text string",
    ).repartition(7)

    out = pack_token_bins(docs, bin_tokens=64, block_docs=32)

    n_tok = F.size(F.split("text", " "))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = (
        docs.select("doc_id", "source", n_tok.alias("n_tokens"),
                    F.sum(n_tok).over(w).alias("cum"))
        .withColumn("bin",
                    F.floor((F.col("cum") - F.col("n_tokens")) / 64).cast("int"))
        .groupBy("source", "bin")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"),
             F.min("doc_id").alias("first_doc"),
             F.max("doc_id").alias("last_doc"))
    )
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in naive.collect()}

    # the big-side windows must all be keyed by (source, blk) — never by
    # source alone (that is the serial partition the two-pass form removes);
    # the source-only window is allowed solely over the tiny subtotal
    # relation, which the plan shows as an Aggregate BELOW the window
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # AQE may print a subtree twice — dedupe on (agg, partition keys)
    wins = {
        (agg, re.sub(r"#\d+L?", "", keys))
        for agg, keys in
        re.findall(r"Window \[(sum\(\w+)[^\]]*\], \[([^\]]+)\]", plan)
    }
    assert wins == {("sum(n_tokens", "source, blk"), ("sum(tot", "source")}, plan
    for agg, part_keys in wins:
        if "source" in part_keys and "blk" not in part_keys:
            # the ONLY source-keyed window allowed is the one over the tiny
            # per-block subtotal relation (sum of `tot`), never the corpus
            assert agg == "sum(tot", plan


def test_guard_drop_stats_nonzero_on_skew(spark):
    """The skew guards must be observable: on a fixture with a boilerplate
    shingle / an oversized LSH bucket, the drop-stats queries report nonzero
    discards, and the capped operators still run (no giant collect_list)."""
    from autoner_spark.dedup import (
        minhash_lsh_drop_stats,
        minhash_lsh_pairs,
        ngram_jaccard_drop_stats,
        ngram_jaccard_pairs,
    )
    from autoner_spark.similarity import (
        embedding_lsh_drop_stats,
        embedding_lsh_pairs,
    )

    # one ubiquitous trigram ("common boiler plate") + unique tails
    docs = spark.createDataFrame(
        [(i, f"common boiler plate u{i} v{i} w{i}") for i in range(30)],
        "doc_id long, text string",
    )
    st = ngram_jaccard_drop_stats(docs, n=3, max_shingle_df=10).collect()[0]
    assert st.n_dropped_groups >= 1
    assert st.n_dropped_rows >= 30
    # guarded op still runs and the boilerplate shingle produced no pairs
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.2,
                                max_shingle_df=10).collect()
    assert pairs == []

    # identical texts -> identical signatures -> one bucket of 30 per band
    same = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(30)],
        "doc_id long, text string",
    )
    mst = minhash_lsh_drop_stats(same, num_hashes=16, band_size=4,
                                 max_bucket_size=8).collect()[0]
    assert mst.n_dropped_groups == 4      # every band's single bucket
    assert mst.n_dropped_rows == 120
    assert minhash_lsh_pairs(same, num_hashes=16, band_size=4,
                             max_bucket_size=8).count() == 0

    # identical vectors -> one bucket of 20 per band
    vecs = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    est = embedding_lsh_drop_stats(vecs, bits_per_band=8, n_bands=2,
                                   max_bucket_size=8).collect()[0]
    assert est.n_dropped_groups == 2
    assert est.n_dropped_rows == 40
    assert embedding_lsh_pairs(vecs, threshold=0.99, bits_per_band=8,
                               n_bands=2, max_bucket_size=8).count() == 0

    # no skew -> zero drops (the counters don't cry wolf)
    zst = ngram_jaccard_drop_stats(docs, n=3, max_shingle_df=1000).collect()[0]
    assert zst.n_dropped_groups == 0 and zst.n_dropped_rows == 0


def test_jaccard_drop_stats_honours_non_unique_id(spark):
    """With a non-unique id column, id_unique=False counts each
    (id, shingle) once: three rows of doc 1 sharing one trigram are one
    member of that shingle's group, not three."""
    from autoner_spark.dedup import ngram_jaccard_drop_stats

    docs = spark.createDataFrame(
        [(1, "common boiler plate")] * 3 + [(2, "common boiler plate")],
        "doc_id long, text string",
    )
    per_row = ngram_jaccard_drop_stats(docs, n=3, max_shingle_df=2)
    per_id = ngram_jaccard_drop_stats(docs, n=3, max_shingle_df=2,
                                      id_unique=False)
    assert tuple(per_row.collect()[0]) == (1, 4)
    assert tuple(per_id.collect()[0]) == (0, 0)


def test_ivf_multiprobe_improves_boundary_recall(spark, emb):
    """nprobe>1 must strictly improve recall@k vs nprobe=1 on the isotropic
    fixture (queries near cluster boundaries lose their true neighbors when
    only the home cluster is probed), and every returned candidate must lie
    in one of the query's probed clusters."""
    from autoner_spark.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
        queries_from_ids,
    )

    truth = {(r.query_id, r.vec_id)
             for r in brute_force_topk(emb, queries_from_ids(emb, 20), k=5)
             .collect()}

    def recall(nprobe):
        got = {(r.query_id, r.vec_id)
               for r in ivf_topk(emb, k=5, n_centroids=8, max_query_id=20,
                                 nprobe=nprobe).collect()}
        return len(got & truth)

    r1, r2, r3 = recall(1), recall(2), recall(3)
    assert r1 < r2 < r3, (r1, r2, r3)

    # probed-cluster invariant at nprobe=2
    cents = ivf_centroids(emb, 8)
    home = {r.vec_id: r.centroid_id
            for r in ivf_assign(emb, cents, 1).collect()}
    probed: dict[int, set] = {}
    for r in ivf_assign(emb.filter("vec_id < 20"), cents, 2).collect():
        probed.setdefault(r.vec_id, set()).add(r.centroid_id)
    assert all(len(s) == 2 for s in probed.values())
    for r in ivf_topk(emb, k=5, n_centroids=8, max_query_id=20,
                      nprobe=2).collect():
        assert home[r.vec_id] in probed[r.query_id]


def test_brute_force_guard_refuses_large_inputs(spark, emb):
    """The exact-baseline crossJoins must refuse oversized inputs (the
    docstring promise is now enforced behavior): >max_rows raises with a
    pointer to the scale path; max_rows=None opts out."""
    from autoner_spark.similarity import (
        brute_force_topk,
        guard_brute_force,
        queries_from_ids,
    )

    big = emb.union(emb).union(emb)  # > 2x the cap below
    with pytest.raises(ValueError, match="ivf_topk"):
        brute_force_topk(big, queries_from_ids(emb, 2), k=2,
                         max_rows=emb.count())
    # opt-out still works, and small inputs pass untouched
    assert brute_force_topk(emb, queries_from_ids(emb, 2), k=2,
                            max_rows=None).count() == 4
    guard_brute_force(emb, emb.count(), "x")  # exactly at cap: allowed


def test_lsh_arrow_signatures_match_relational(spark, emb):
    """The NumPy-matmul mapInArrow signature stage must be bit-identical to
    the relational explode+join form — buckets, and end-to-end pairs with
    planted rescaled duplicates — for float64 AND raw float32 inputs."""
    from autoner_spark.similarity import (
        embedding_lsh_pairs,
        lsh_band_buckets,
        lsh_band_buckets_arrow,
    )

    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    a = {tuple(r) for r in lsh_band_buckets(base, 16, 4).collect()}
    b = {tuple(r) for r in lsh_band_buckets_arrow(base, 16, 4).collect()}
    assert a == b and a

    f32 = emb.select("vec_id", "embedding")
    assert {tuple(r) for r in lsh_band_buckets_arrow(f32, 8, 2).collect()} \
        == {tuple(r) for r in lsh_band_buckets(f32, 8, 2).collect()}

    dup = base.filter("vec_id < 10").select(
        (F.col("vec_id") + 50000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    aug = base.unionByName(dup)
    # end to end: the Arrow-stage pairs equal the pairs the RELATIONAL
    # buckets imply (in-bucket pairs under the size cap, exact cosine)
    vecs = {r.vec_id: r.embedding for r in aug.collect()}
    want = _lsh_pairs_from_buckets(
        lsh_band_buckets(aug, 16, 4).collect(), vecs, 0.99, 64)
    pa_ = {(a_, b_): c for a_, b_, c in
           embedding_lsh_pairs(aug, threshold=0.99).collect()}
    assert pa_.keys() == want.keys()
    assert all(abs(pa_[k] - want[k]) <= 2e-6 for k in want)
    assert set(pa_) >= {(i, i + 50000) for i in range(10)}

    # ragged vectors are rejected, not silently mis-shaped: with lazy dim
    # inference the mismatch is caught when two widths meet inside one task
    # (coalesce forces that here), and an explicit dim catches raggedness
    # regardless of partitioning
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="fixed-dimension"):
        lsh_band_buckets_arrow(ragged.coalesce(1), 4, 2).collect()
    with pytest.raises(Exception, match="fixed-dimension"):
        lsh_band_buckets_arrow(ragged.repartition(2), 4, 2, dim=2).collect()

    # plan construction must NOT trigger an eager Spark job (ADVICE r3):
    # building the stage over a view that explodes on read only fails when
    # the plan is actually executed
    def _boom(v):
        raise RuntimeError("executed: construction should not run jobs")

    exploding = base.filter(F.udf(_boom, "boolean")(F.col("vec_id")))
    lsh_band_buckets_arrow(exploding, 4, 2)  # construction: no job, no raise
    with pytest.raises(Exception):
        lsh_band_buckets_arrow(exploding, 4, 2).collect()

    # the relational form is a reference only: no selector reaches it
    with pytest.raises(TypeError, match="signature"):
        embedding_lsh_pairs(base, signature="join")


def _lsh_pairs_from_buckets(buckets, vecs, threshold, cap):
    """{(id_a, id_b): cosine} for the in-bucket pairs of (vec_id, band,
    bucket) rows whose bucket holds at most ``cap`` members, verified by
    the exact cosine (same left-to-right double sums as with_cosine)."""
    import math

    groups: dict = {}
    for vid, band, bucket in buckets:
        groups.setdefault((band, bucket), set()).add(vid)
    cand = {(a, b) for m in groups.values() if len(m) <= cap
            for a in m for b in m if a < b}
    out = {}
    for a, b in cand:
        va, vb = vecs[a], vecs[b]
        dot = sum(x * y for x, y in zip(va, vb))
        cos = dot / (math.sqrt(sum(x * x for x in va))
                     * math.sqrt(sum(y * y for y in vb)))
        if round(cos, 6) >= threshold:
            out[(a, b)] = round(cos, 6)
    return out


def test_incremental_minhash_is_exactly_the_new_involving_pairs(spark, docs):
    """The CDC-shaped dedup must equal the full-corpus LSH pair set
    restricted to pairs touching the new batch — nothing extra (no old-old
    leakage), nothing missing (the batch sees the whole corpus), and the
    new_new/new_old labels must match the split."""
    from autoner_spark.dedup import incremental_minhash_pairs, minhash_lsh_pairs

    is_new = lambda i: i % 5 == 0  # noqa: E731
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    inc = {(r.id_a, r.id_b): (r.n_bands, r.involves_new)
           for r in incremental_minhash_pairs(old, new).collect()}
    full = {(r.id_a, r.id_b): r.n_bands
            for r in minhash_lsh_pairs(docs).collect()}
    want = {p: nb for p, nb in full.items() if is_new(p[0]) or is_new(p[1])}
    assert {p: nb for p, (nb, _) in inc.items()} == want and inc
    for (a, b), (_, label) in inc.items():
        assert label == ("new_new" if is_new(a) and is_new(b) else "new_old")


def test_simhash_arrow_matches_relational(spark, docs):
    """The Arrow map-stage SimHash must be bit-identical to the relational
    vote pipeline — on the corpus fixture AND on the tokenizer edge cases
    (multi-space, trailing space, empty string, NULL text: NULL rows are
    dropped by both forms)."""
    from autoner_spark.dedup import simhash, simhash_arrow, simhash_hamming_pairs

    a = {tuple(r) for r in simhash(docs).collect()}
    b = {tuple(r) for r in simhash_arrow(docs).collect()}
    assert a == b and len(a) == docs.count()

    edge = spark.createDataFrame(
        [(0, "a  b"), (1, "a b "), (2, ""), (3, None), (4, "solo")],
        "doc_id long, text string",
    )
    ea = {tuple(r) for r in simhash(edge).collect()}
    eb = {tuple(r) for r in simhash_arrow(edge).collect()}
    assert ea == eb and {i for i, _ in ea} == {0, 1, 2, 4}

    # end to end: the Arrow-stage pairs are exactly the pairs within 3
    # bits under the RELATIONAL signatures (pigeonhole: exact recall)
    want = {(i, j, bin(hi ^ hj).count("1")) for i, hi in a for j, hj in a
            if i < j and bin(hi ^ hj).count("1") <= 3}
    pa_ = {tuple(r) for r in simhash_hamming_pairs(docs).collect()}
    assert pa_ == want and pa_

    import pytest as _pytest
    with _pytest.raises(TypeError, match="signature"):
        simhash_hamming_pairs(docs, signature="join")
    with _pytest.raises(ValueError, match="exceeds 63"):
        simhash_arrow(docs, bits=64)


def test_ivf_kmeans_centroids_improve_recall(spark, emb):
    """One deterministic Lloyd iteration strictly improves recall@5 over
    the raw hash-sample centroids at EQUAL n_centroids and nprobe on the
    isotropic fixture — the refinement must earn its extra pass. Ground
    truth is the exact brute-force top-5."""
    from autoner_spark.similarity import (
        brute_force_topk,
        ivf_topk,
        queries_from_ids,
    )

    truth = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries_from_ids(emb, 10), k=5).collect()
    }

    def recall(kmeans_iters):
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(emb, k=5, n_centroids=32, max_query_id=10,
                              nprobe=2, kmeans_iters=kmeans_iters).collect()
        }
        return len(got & truth)

    assert recall(1) > recall(0)


def test_kmeans_centroids_deterministic_and_lloyd_consistent(spark, emb):
    """The refined centroids are a pure function of the input (partition-
    invariant), and each centroid equals the mean of the vectors its
    PREVIOUS centroid set assigned to it (the Lloyd fixpoint step), via
    the shared exact-integer state."""
    from autoner_spark.similarity import (
        ivf_centroids,
        ivf_centroids_kmeans,
        kmeans_component_sums,
    )

    a = {r.centroid_id: list(r.cvec)
         for r in ivf_centroids_kmeans(emb, k=8, iters=1).collect()}
    b = {r.centroid_id: list(r.cvec)
         for r in ivf_centroids_kmeans(emb.repartition(13), k=8,
                                       iters=1).collect()}
    assert a == b and len(a) >= 1

    base = emb.select("vec_id", "embedding")
    sums = kmeans_component_sums(base, ivf_centroids(emb, 8)).collect()
    expect = {}
    for r in sums:
        expect.setdefault(r.centroid_id, {})[r.d] = r.sum_micro / r.n / 1e6
    for cid, vec in a.items():
        assert vec == [expect[cid][d] for d in range(len(vec))]


def test_repetition_stats_flags_boilerplate(spark):
    from autoner_spark.textstats import repetition_stats

    docs = spark.createDataFrame(
        [(0, "spam ham eggs " * 10 + "end"),       # heavy trigram repetition
         (1, "all tokens here are fully distinct ones"),
         (2, "too short")],                         # < n tokens: no row
        "doc_id long, text string",
    )
    got = {r.id: r for r in repetition_stats(docs, n=3).collect()}
    assert set(got) == {0, 1}
    assert got[0].rep_ratio > 0.8 and got[0].max_repeat >= 9
    assert got[1].rep_ratio == 0.0 and got[1].max_repeat == 1


def test_dedup_cluster_assign_transitive(spark, tmp_path):
    """A~B and B~C near-dup edges (but A!~C) must still collapse to ONE
    cluster with min-id representative — the property pairwise retention
    rules miss."""
    from autoner_spark.queries import q_dedup_cluster_assign

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    toks = base.split()
    rows = [
        (10, " ".join(toks)),
        (11, " ".join(toks[:9] + ["mu"])),      # ~ doc 10
        (12, " ".join(["nu"] + toks[1:9] + ["mu"])),  # ~ doc 11, not 10
        (13, "completely unrelated words in this document here"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string") \
        .withColumn("source", F.lit("t")) \
        .write.parquet(str(sf / "documents.parquet"))
    got = {r.doc_id: r.keep_id
           for r in q_dedup_cluster_assign(spark, str(sf)).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 13}


def test_minhash_verified_removes_false_positives(spark, docs):
    """verified = exact-jaccard filter over the LSH candidate set: every
    output pair must be a true >=threshold pair (no LSH false positives),
    and every candidate that IS a true pair must survive."""
    from autoner_spark.dedup import (
        minhash_lsh_pairs,
        minhash_verified_pairs,
        ngram_jaccard_pairs,
    )

    jac = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    cand = {(r.id_a, r.id_b)
            for r in minhash_lsh_pairs(docs, 16, 4, 3).collect()}
    ver = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_verified_pairs(docs, 16, 4, 3, 0.5).collect()}
    assert set(ver) == cand & set(jac)
    for p, j in ver.items():
        assert j == jac[p]  # exact jaccard, not an estimate
    assert cand - set(ver), "fixture should contain LSH false positives"


def test_lsh_arrow_null_vectors_and_string_ids(spark):
    """Review regressions: the arrow signature path must (a) silently skip
    NULL vectors exactly like the relational form's posexplode, and (b)
    pass non-numeric id columns through with their original type."""
    from autoner_spark.similarity import lsh_band_buckets, lsh_band_buckets_arrow

    withnull = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, None), (2, [3.0, 1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    a = {tuple(r) for r in lsh_band_buckets(withnull, 4, 2).collect()}
    b = {tuple(r) for r in lsh_band_buckets_arrow(withnull, 4, 2).collect()}
    assert a == b
    assert {r[0] for r in b} == {0, 2}

    sids = spark.createDataFrame(
        [("doc-a", [1.0, 2.0]), ("doc-b", [2.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    got = lsh_band_buckets_arrow(sids, 4, 2)
    assert dict(got.dtypes)["vec_id"] == "string"
    assert {tuple(r) for r in got.collect()} \
        == {tuple(r) for r in lsh_band_buckets(sids, 4, 2).collect()}


def test_simhash_hamming_pairs_exact_recall(spark, docs):
    """Pigeonhole guarantee: with 4 blocks and max_hamming=3, the
    block-bucket candidate scheme must find EXACTLY the brute-force
    hamming<=3 pair set (uncapped run)."""
    from itertools import combinations

    from autoner_spark.dedup import simhash, simhash_hamming_pairs

    sig = {r.id: r.simhash for r in simhash(docs).collect()}
    want = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for a, b in combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_hamming_pairs(docs, max_hamming=3,
                                          max_bucket_size=None).collect()}
    assert got == want and want

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(docs, max_hamming=4, n_blocks=4)
    with pytest.raises(ValueError, match="equal-width"):
        simhash_hamming_pairs(docs, bits=32, n_blocks=5)


def test_lpc_sketch_accuracy(spark, tmp_path):
    """Linear probabilistic counting: estimate within ~5% of the true
    cardinality at load factor n/m << 1, and exactly portable math (the
    gate pins cross-engine equality; this pins accuracy)."""
    import datetime

    rows = [(i, datetime.datetime(2026, 1, 1), i % 1000, "t", 1.0, "{}")
            for i in range(20000)]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string"
    ).write.parquet(str(sf / "events.parquet"))

    from autoner_spark.queries import q_rel_lpc_distinct

    r = q_rel_lpc_distinct(spark, str(sf)).collect()[0]
    assert r.n_exact == 1000
    assert abs(r.lpc_estimate - 1000) / 1000 < 0.05, r.lpc_estimate

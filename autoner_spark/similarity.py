"""Similarity search over embedding columns (array<float>).

Two paths, both DataFrame-native:

* brute_force_topk — exact cosine top-k: query rows x candidate rows,
  JVM-side dot products via ``aggregate(zip_with(...))``, windowed top-k.
  The correctness baseline; O(Q x N) — fine for reranking, not for recall.
* ivf_assign / ivf_topk — the scale path: a deterministic centroid set
  (IVF "coarse quantizer"); every vector is assigned to its best centroid
  (broadcast join — centroids are tiny); queries probe ONLY their own
  cluster, cutting the candidate set by ~|clusters|. At 100 TB the
  assignment is one broadcast-join map stage and the search shuffles only
  within matching clusters.

Cosines are computed in float64 from float32 inputs and rounded for
cross-engine comparison; ranking ties are broken by vec_id so top-k is
deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import pyworker


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def guard_brute_force(df: DataFrame, max_rows: int | None, scale_path: str) -> None:
    """Refuse to cross-join an input larger than ``max_rows``: the brute-
    force operators are exact-recall correctness baselines, and lifting one
    into a pipeline at corpus scale is a quadratic accident. One cheap job
    (limit(max_rows+1).count()) decides; pass ``max_rows=None`` to opt out
    explicitly."""
    if max_rows is None:
        return
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"brute-force pair scan refused: input exceeds {max_rows} rows "
            f"(O(N^2) at this size); use the scale path ({scale_path}) or "
            f"pass max_rows=None to force the exact baseline"
        )


def with_cosine(pairs: DataFrame, a: str = "qvec", b: str = "embedding") -> DataFrame:
    """Cosine column over (a, b) vector pairs. Zero-norm vectors yield
    NULL (try_divide) — the same result DuckDB's x/0.0 produces — instead
    of an ANSI DIVIDE_BY_ZERO error; every consumer's threshold filter
    then drops the row on both engines."""
    return pairs.withColumn(
        "cosine",
        F.try_divide(_dot(F.col(a), F.col(b)),
                     _norm(F.col(a)) * _norm(F.col(b))),
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 50_000,
) -> DataFrame:
    """queries(query_id, qvec) x embeddings -> top-k (query_id, vec_id,
    cosine) per query; self-matches excluded by id. Exact O(Q x N) rerank
    baseline — guarded above ``max_rows`` candidates (ivf_topk is the
    scale path)."""
    guard_brute_force(embeddings, max_rows, "similarity.ivf_topk")
    cand = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    pairs = queries.crossJoin(cand).filter(F.col("query_id") != F.col("vec_id"))
    scored = with_cosine(pairs)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "vec_id", F.round("cosine", 6).alias("cosine"))  # money: irrational
    )


def queries_from_ids(embeddings: DataFrame, max_query_id: int,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    return embeddings.filter(F.col(id_col) < max_query_id).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )


def ivf_centroids(embeddings: DataFrame, k: int = 32,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic coarse quantizer: a FIXED-k hash-ordered sample
    (stand-in for a k-means fit; the assignment/probe mechanics are
    identical).

    k is independent of N — the k vectors with the smallest md5(vec_id)
    (a deterministic uniform draw, portable to the DuckDB twin). An
    every-Nth rule would grow the centroid set O(N), making the broadcast
    and the assignment cross product O(N^2/every) at corpus scale; fixed k
    keeps assignment at O(N*k) with a constant-size broadcast. The sample
    is found with a global TakeOrdered (O(N log k) per partition, no full
    sort materialization)."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
               ).cast("long")
    return (
        embeddings.orderBy(h, F.col(id_col))
        .limit(k)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec"))
    )


def ivf_assign(embeddings: DataFrame, centroids: DataFrame,
               nprobe: int = 1,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, centroid_id): the ``nprobe`` best-cosine centroids per
    vector, via broadcast join + windowed top-n (ties -> smaller
    centroid_id). nprobe=1 is the storage assignment (each vector lives in
    exactly one cluster); nprobe>1 is the QUERY-side multi-probe that
    recovers recall near cluster boundaries — same broadcast argmax, just
    keeping the n best rows."""
    pairs = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).crossJoin(F.broadcast(centroids))
    scored = pairs.withColumn(
        "cos", _dot(F.col("embedding"), F.col("cvec"))
        / (_norm(F.col("embedding")) * _norm(F.col("cvec")))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= nprobe)
        .select("vec_id", "centroid_id")
    )


def ivf_centroids_kmeans(
    embeddings: DataFrame,
    k: int = 32,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-refined coarse quantizer: the md5-seeded hash sample
    (``ivf_centroids``) run through ``iters`` deterministic k-means
    iterations — broadcast argmax assignment, then per-cluster element-wise
    mean. Closes the recall gap of the raw hash sample on clustered
    embedding distributions (pinned by pytest) while keeping the DuckDB
    twin exactly reproducible.

    Determinism across engines: the mean is computed over SCALED-INTEGER
    components (floor(x*1e6 + 0.5), micro-units) so the per-cluster sum is
    exact integer math — a raw double sum's low bits depend on aggregation
    order and could flip an argmax between engines. The mean itself is one
    long/long division per (cluster, dim): identical doubles everywhere.
    Assignment is cosine-argmax (ties -> smaller centroid_id), reusing
    ``ivf_assign``; since cosine is scale-invariant the un-normalized mean
    assigns identically to the spherical-k-means normalized one.

    Scale: per iteration, one broadcast join over the corpus (assignment)
    + one map-side-combined groupBy of N*dim scaled components; centroid
    relation stays k rows end-to-end. Empty clusters drop out (k can only
    shrink), as in any Lloyd run without re-seeding."""
    cents = ivf_centroids(embeddings, k, id_col, vec_col)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    for _ in range(iters):
        sums = kmeans_component_sums(base, cents)
        means = sums.select(
            "centroid_id", "d",
            (F.col("sum_micro") / F.col("n") / F.lit(1e6)).alias("m"),
        )
        cents = (
            means.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
            .select(
                "centroid_id",
                F.transform("dm", lambda s: s["m"]).alias("cvec"),
            )
        )
    return cents


def kmeans_component_sums(base: DataFrame, centroids: DataFrame) -> DataFrame:
    """(centroid_id, d, sum_micro, n): one Lloyd iteration's exact state —
    per (cluster, dim), the sum of micro-unit-scaled components and the
    member count; the cluster mean is the un-divided ratio sum_micro/n/1e6.
    Shared by ``ivf_centroids_kmeans`` and the correctness gate (which pins
    this exact integer state against DuckDB)."""
    assign = ivf_assign(base, centroids, 1, "vec_id", "embedding")
    comp = (
        base.join(assign, "vec_id")
        .select("centroid_id", F.posexplode("embedding").alias("d", "x"))
        .withColumn(
            "xs",
            F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5))
            .cast("long"),
        )
    )
    return comp.groupBy("centroid_id", "d").agg(
        F.sum("xs").alias("sum_micro"), F.count("*").cast("long").alias("n")
    )


def hyperplane_bits(
    embeddings: DataFrame,
    n_hyperplanes: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, j, bit): random-hyperplane sign bits (SimHash for vectors,
    Charikar '02), computed relationally and cross-engine-portably.

    Hyperplane components are derived IN-ENGINE from md5 so the DuckDB twin
    reproduces them bit-for-bit: w[j][d] = md5_int32(j:d) / 2^31 - 1 (uniform
    in [-1, 1]). The dot products run as one broadcast join (the hyperplane
    relation is n_hyperplanes x dim rows — constant size) plus one algebraic
    sum aggregation; no UDF, no crossJoin of the data with itself.

    The sign is taken on the 6dp-ROUNDED dot product: the raw double sum's
    last bits depend on aggregation order, so an unrounded comparison could
    flip a bit between engines (or runs) when a dot lands within rounding
    distance of zero — the same convention as every other float boundary in
    the gate queries.

    ``dim``: pass the embedding width when known — building the plan then
    triggers NO eager job (same contract as the Arrow signature path);
    when None the width is probed once with a ``first()`` fallback."""
    spark = embeddings.sparkSession
    if dim is None:
        first_vec = (
            embeddings.filter(F.col(vec_col).isNotNull())
            .select(vec_col).first()
        )
        # empty input: any dim yields the correct empty result downstream
        dim = 1 if first_vec is None else len(first_vec[0])
    hyp = spark.createDataFrame(
        [(j, d) for j in range(n_hyperplanes) for d in range(dim)],
        "j int, d int",
    ).withColumn(
        "w",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("j").cast("string"),
                                  F.col("d").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") / F.lit(2147483648.0) - F.lit(1.0),
    )
    ex = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col)).alias("d", "x"),
    )
    return (
        ex.join(F.broadcast(hyp), "d")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x").cast("double") * F.col("w")).alias("dot"))
        .select(
            "vec_id", "j",
            (F.round(F.col("dot"), 6) > 0).cast("int").alias("bit"),  # money: irrational
        )
    )


def lsh_band_buckets(
    base: DataFrame,
    bits_per_band: int = 16,
    n_bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, band, bucket): sign-LSH band bucket keys over
    base(vec_id, embedding) — shared by the pair generator and the
    drop-stats observability query."""
    bits = hyperplane_bits(base, bits_per_band * n_bands, dim=dim)
    return bits.groupBy(
        "vec_id", F.floor(F.col("j") / bits_per_band).cast("int").alias("band")
    ).agg(
        F.sum(
            F.col("bit")
            * F.pow(F.lit(2), F.col("j") % bits_per_band).cast("long")
        ).cast("long").alias("bucket")
    )


def _hyperplane_matrix(n_hyperplanes: int, dim: int):
    """The md5-derived hyperplane matrix (n_hyperplanes x dim) as float64 —
    numerically identical to hyperplane_bits' in-engine derivation:
    w[j][d] = int(md5('j:d')[:8], 16) / 2^31 - 1."""
    import hashlib

    import numpy as np

    w = np.empty((n_hyperplanes, dim), dtype=np.float64)
    for j in range(n_hyperplanes):
        for d in range(dim):
            h = int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:8], 16)
            w[j, d] = h / 2147483648.0 - 1.0
    return w


def lsh_band_buckets_arrow(
    base: DataFrame,
    bits_per_band: int = 16,
    n_bands: int = 4,
    dim: int | None = None,
    emit_dim: bool = False,
) -> DataFrame:
    """(vec_id, band, bucket): the mapInArrow/NumPy twin of
    ``lsh_band_buckets`` — one BLAS matmul per Arrow batch instead of the
    explode + broadcast-join + re-aggregate pipeline.

    Why it wins: the relational form materializes N x dim x n_hyperplanes
    intermediate rows through two shuffles; this form is a single map stage
    (zero shuffles) computing sign(X @ W.T) per batch and packing band
    buckets in-register. The hyperplanes, the 6dp-rounded sign convention
    and the bucket packing are bit-compatible with the relational form and
    the DuckDB twin (pinned by pytest). Requires fixed-dimension vectors (guarded).
    NULL vectors are dropped before the map stage — the same rows the join
    form's posexplode silently skips — and the id column passes through
    with its original type (numeric or string ids alike).

    ``dim``: pass the embedding width explicitly when known; when None it
    is inferred LAZILY from the first vector each task sees (every later
    row is validated against it), so building the plan never triggers an
    eager Spark job — plan dumps, drop-stats composition and repeated
    query construction stay free. Lazy inference relies on the documented
    fixed-dimension contract: raggedness is caught whenever two widths
    meet inside one task, but a corpus partitioned so that every task is
    internally consistent (different widths in different files) needs a
    cross-task check — ``emit_dim=True`` appends the per-task inferred
    width as a ``dim`` column so the consumer can verify agreement
    lazily (``embedding_lsh_pairs`` asserts per-bucket width equality,
    which covers every case that could produce a cross-width pair)."""
    import pyarrow as pa

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    clean = base.filter(F.col("embedding").isNotNull())
    n_hyp = bits_per_band * n_bands

    fields = [
        StructField("vec_id", base.schema["vec_id"].dataType),
        StructField("band", IntegerType()),
        StructField("bucket", LongType()),
    ]
    if emit_dim:
        fields.append(StructField("dim", IntegerType()))
    out_schema = StructType(fields)

    def compute(batches):
        pyworker.install()
        import numpy as np

        pows = 2 ** np.arange(bits_per_band, dtype=np.int64)
        bands = np.arange(n_bands, dtype=np.int32)
        d = dim
        w_t = None if d is None else _hyperplane_matrix(n_hyp, d).T
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            emb = b.column(1)
            offs = np.diff(emb.offsets.to_numpy(zero_copy_only=False))
            if d is None:
                d = int(offs[0])
                w_t = _hyperplane_matrix(n_hyp, d).T  # (dim, n_hyp)
            if not (offs == d).all():
                raise ValueError(
                    "lsh_band_buckets_arrow requires fixed-dimension "
                    f"vectors (expected dim={d})"
                )
            # keep ids as an Arrow array: original type survives (a numpy
            # round-trip would mangle strings / overflow-check longs)
            id_rep = b.column(0).take(
                pa.array(np.repeat(np.arange(n, dtype=np.int64), n_bands))
            )
            flat = emb.values.to_numpy(zero_copy_only=False)
            x = np.asarray(flat, dtype=np.float64).reshape(n, d)
            # same convention as the join form: sign on the 6dp-rounded dot
            bits = (np.round(x @ w_t, 6) > 0).astype(np.int64)
            buckets = bits.reshape(n, n_bands, bits_per_band) @ pows
            cols = {
                "vec_id": id_rep,
                "band": pa.array(np.tile(bands, n), type=pa.int32()),
                "bucket": pa.array(buckets.reshape(-1), type=pa.int64()),
            }
            if emit_dim:
                cols["dim"] = pa.array(
                    np.full(n * n_bands, d, dtype=np.int32),
                    type=pa.int32(),
                )
            yield pa.RecordBatch.from_pydict(cols)

    return clean.select("vec_id", "embedding").mapInArrow(compute, out_schema)


def embedding_lsh_drop_stats(
    embeddings: DataFrame,
    bits_per_band: int = 16,
    n_bands: int = 4,
    max_bucket_size: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """One row (n_dropped_groups, n_dropped_rows): buckets (and memberships)
    the ``max_bucket_size`` guard in ``embedding_lsh_pairs`` discarded."""
    from .dedup import group_drop_stats

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    return group_drop_stats(
        lsh_band_buckets(base, bits_per_band, n_bands, dim=dim),
        ["band", "bucket"], max_bucket_size,
    )


def embedding_lsh_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    bits_per_band: int = 16,
    n_bands: int = 4,
    max_bucket_size: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine): near-duplicate vectors via sign-LSH candidates
    + exact cosine verification — the SCALE path for embedding dedup.

    ``dim``: forwarded to the Arrow signature stage. Leave ``None`` on a
    single-source corpus (width inferred lazily per task, raggedness
    caught when two widths meet inside one task); PASS IT on mixed-source
    corpora, where per-task-consistent files of different widths would
    otherwise each hash with their own hyperplane matrix and silently
    produce cross-width garbage candidates.

    Sign-identical vectors (exact duplicates, rescaled copies — the common
    real-world case of the same content embedded twice) collide in EVERY
    band, so recall for them is guaranteed, not probabilistic; pairs near
    the threshold are caught with probability 1-(1-p^b)^r. Candidates are
    generated exactly like minhash_lsh_pairs (bucket grouping + in-row pair
    explosion, bucket-size cap as the skew guard — no self-join, no
    crossJoin anywhere in the plan) and verified with the exact cosine via
    two equi-joins back to the vectors.

    Why this exists alongside the brute-force baseline: at permissive
    thresholds (e.g. 0.45) on isotropic data, NO candidate scheme reaches
    exact recall (measured on the test corpus: best 11/14 pairs while
    keeping 13.6% of all candidate pairs), so the exhaustive scan is the
    correct exact plan there; LSH is the right plan where near-duplicate
    semantics actually hold (threshold >= ~0.9)."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    # signatures: one zero-shuffle NumPy-matmul map stage (measured ~2x
    # faster than the relational ``lsh_band_buckets``, see BENCH.md;
    # bit-identical buckets, pinned by pytest)
    bucketed = lsh_band_buckets_arrow(base, bits_per_band, n_bands,
                                      dim=dim, emit_dim=dim is None)
    if dim is None:
        # cross-task raggedness guard: the per-task lazily-inferred
        # width rides along as a column and every bucket must be
        # width-uniform — which covers EVERY case that could emit a
        # cross-width pair (different-width vectors are only harmful
        # when they collide in a bucket; cosine across widths is
        # undefined). The min/max window shares the (band, bucket)
        # shuffle the skew-cap window in _bucket_pairs needs anyway,
        # so the check adds no extra exchange; a mixed bucket fails
        # the query instead of silently degrading recall.
        w = Window.partitionBy("band", "bucket")
        bucketed = (
            bucketed.withColumn("_dmin", F.min("dim").over(w))
            .withColumn("_dmax", F.max("dim").over(w))
            .filter(
                F.assert_true(
                    F.col("_dmin") == F.col("_dmax"),
                    F.lit("mixed embedding widths collided in an LSH "
                          "bucket — pass dim= explicitly"),
                ).isNull()
            )
            .select("vec_id", "band", "bucket")
        )
    # shared LSH pair-explosion core (skew cap BEFORE collect_list;
    # lsh_drop_stats reports the discards)
    from .dedup import _bucket_pairs

    cand = (
        _bucket_pairs(bucketed, ["band", "bucket"], "vec_id",
                      max_bucket_size)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
    a = base.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("qvec"))
    b = base.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("embedding"))
    # shuffle-hash verify joins: candidates grow with bucket count and the
    # embedding relation is corpus-sized — neither side may be pinned as a
    # static broadcast by Catalyst's derived estimates (same defect class
    # as dedup.ngram_jaccard_pairs' sizes join)
    verified = with_cosine(
        cand.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
    )
    return (
        verified.filter(F.round(F.col("cosine"), 6) >= threshold)  # money: irrational
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))  # money: irrational
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_centroids: int = 32,
    max_query_id: int = 10,
    nprobe: int = 1,
    kmeans_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k probing the query's ``nprobe`` nearest clusters.

    Candidates are stored once (nprobe=1 assignment); each query fans out
    to its nprobe best centroids via the same broadcast argmax and unions
    the probed clusters. nprobe=1 has no recall bound for true neighbors
    across a cluster boundary; nprobe>1 probes the adjacent clusters the
    boundary case falls into, at nprobe× the candidate cost — still
    O(N·k/n_centroids·nprobe) total, never a cross product. A query in one
    probed cluster meets each candidate once (candidates live in exactly
    one cluster), so no dedup pass is needed.

    ``kmeans_iters > 0`` refines the hash-sample coarse quantizer with that
    many deterministic Lloyd iterations (``ivf_centroids_kmeans``) before
    assignment — better-balanced clusters, higher recall at equal nprobe."""
    if kmeans_iters > 0:
        cents = ivf_centroids_kmeans(embeddings, n_centroids, kmeans_iters,
                                     id_col, vec_col)
    else:
        cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    assign = ivf_assign(embeddings, cents, 1, id_col, vec_col)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    qvecs = base.filter(F.col("vec_id") < max_query_id)
    probes = ivf_assign(
        qvecs, cents, nprobe, id_col="vec_id", vec_col="embedding"
    )
    q = qvecs.join(probes, "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("centroid_id"),
    )
    cand = base.join(assign, "vec_id").select(
        "vec_id", "embedding", "centroid_id"
    )
    pairs = q.join(cand, "centroid_id").filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = with_cosine(pairs)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "vec_id", F.round("cosine", 6).alias("cosine"))  # money: irrational
    )

"""Deduplication operators for large-scale training-data pipelines.

All four families are DataFrame-native (no Python in the hot path) and use
**cross-engine-portable hashing** (md5 hex -> int) so each operator has an
exact DuckDB SQL twin for the correctness gate:

* exact_dedup        — md5(text) hash-groupBy; representative = min doc_id.
* ngram_jaccard_pairs — token n-gram shingles; candidate pairs share >=1
  shingle; Jaccard via |A ∩ B| / (|A| + |B| - |A ∩ B|), all relational.
* minhash_lsh_pairs  — k salted min-hashes per doc, banded; pairs sharing a
  band bucket are near-dup candidates (classic MinHash-LSH; Broder '97 /
  Leskovec MMDS ch.3). Signatures and band hashing are pure SQL expressions.
* simhash            — 32-bit SimHash (Charikar '02) computed RELATIONALLY:
  per-token 32-bit hash, per-bit +-1 vote aggregation, bit recomposition.

Scale notes: exact dedup and minhash banding shuffle on the hash key only
(small); ngram_jaccard's shingle self-join explodes on frequent shingles —
at corpus scale, frequent-shingle filtering (drop shingles with df > K) caps
the join fan-out; parameterized here as ``max_shingle_df``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import pyworker
from .money import half_up_scaled


def _cap_group_size(df: DataFrame, keys: list[str], cap: int | None,
                    min_size: int = 1) -> DataFrame:
    """Drop rows whose group (by ``keys``) is larger than ``cap`` (or
    smaller than ``min_size``) BEFORE any collect_list materializes the
    group: the count runs as a window over the same keys (WindowExec spills
    oversized partitions to disk; collect_list cannot spill within a group),
    and a downstream groupBy on the same keys reuses the window's hash
    partitioning — one shuffle total, no giant in-memory array for exactly
    the skewed group the cap exists to handle."""
    w = Window.partitionBy(*keys)
    out = df.withColumn("_gn", F.count("*").over(w))
    cond = F.col("_gn") >= min_size
    if cap is not None:
        cond = cond & (F.col("_gn") <= cap)
    return out.filter(cond).drop("_gn")


def _bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    member: str | Column,
    max_bucket_size: int | None,
    id_field: str | None = None,
) -> DataFrame:
    """(a, b): canonically-ordered in-bucket member pairs, produced WITHOUT
    a self-join — the shared core of every LSH-family pair generator
    (minhash bands, incremental minhash, simhash blocks, sign-LSH bands).

    ``rows`` carries one row per (bucket-key, member); ``keys`` is the
    bucket key; ``member`` the collected value (a column name or struct
    expression); ``id_field`` the struct field used for the a < b
    canonical ordering (the member itself when None). The skew cap runs
    BEFORE collect_list (window count over the same keys — WindowExec
    spills, collect_list cannot), so an oversized boilerplate bucket is
    dropped whole without ever materializing its member array, and the
    downstream groupBy reuses the window's partitioning (one shuffle)."""
    kept = _cap_group_size(rows, keys, max_bucket_size, min_size=2)
    buckets = kept.groupBy(*keys).agg(
        F.sort_array(F.collect_list(member)).alias("ms")
    )
    pairs = (
        buckets.select(F.explode("ms").alias("a"), F.col("ms"))
        .select("a", F.explode("ms").alias("b"))
    )
    ka = F.col(f"a.{id_field}") if id_field else F.col("a")
    kb = F.col(f"b.{id_field}") if id_field else F.col("b")
    return pairs.filter(ka < kb)


def _verify_exact_jaccard(
    cand: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard): exact-Jaccard verification of candidate
    pairs against the (id, shingle) relation — the shared verify tail of
    ``minhash_verified_pairs`` and ``ngram_jaccard_prefix_pairs``.

    Every join is SHUFFLE_HASH, never broadcast: the candidate-pair and
    shingle relations both grow with the corpus, and Catalyst's static
    sizeInBytes (derived from tiny persisted-lineage stats) would happily
    pin one as a broadcast build — the sum(df^2)-sized driver OOM
    observed at 10x gate scale. Shuffling on the id keys with bounded
    per-partition builds is the plan that survives 100 TB."""
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.hint("shuffle_hash").join(a, "id_a")
        .join(b.hint("shuffle_hash"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        # integer HALF_UP at ppm scale (r06 money sweep): inter/union is a
        # rational whose true value CAN sit exactly on a 6dp half (e.g.
        # union 128, inter odd) — see money.half_up_scaled for the
        # half-boundary and overflow rationale.
        .withColumn(
            "jaccard_ppm",
            half_up_scaled("inter", "sz_a + sz_b - inter", 1_000_000),
        )
        .filter(F.col("jaccard_ppm") >= int(round(threshold * 1e6)))
        .select("id_a", "id_b",
                (F.col("jaccard_ppm") / F.lit(1000000.0)).alias("jaccard"))
    )


def group_drop_stats(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """(n_dropped_groups, n_dropped_rows): observability for a group-size
    skew cap — how many groups (and member rows) the cap discarded. Run on
    the SAME keyed relation the capped operator groups on; write the single
    row next to the operator's output so 'dedup found N pairs' is auditable
    against what the guard threw away."""
    freq = df.groupBy(*keys).agg(F.count("*").alias("n"))
    return freq.filter(F.col("n") > cap).agg(
        F.count("*").alias("n_dropped_groups"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_dropped_rows"),
    )

# md5-hex prefix -> unsigned 32-bit int; identical in DuckDB via
# cast(('0x' || substring(md5(x),1,8)) as bigint)
def md5_int32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def shingle_array(n: int, text_col: str = "text") -> Column:
    """In-row n-token shingle array (multiset — duplicates kept) for one
    document: the positional slide over the token array, JVM-side. The
    ``when(k >= 1, ...)`` guard exists because Spark's ``sequence(0, -1)``
    is the DESCENDING [0, -1] (not empty), which would drive ``slice``
    with an invalid start and abort the job."""
    toks = _tokens(text_col)
    k = F.size(toks) - (n - 1)
    return F.transform(
        F.when(k >= 1, F.sequence(F.lit(0), k - 1))
        .otherwise(F.array().cast("array<int>")),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


def shingles_df(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                text_col: str = "text", distinct: bool = True,
                id_unique: bool = True) -> DataFrame:
    """(id, shingle): distinct n-token shingles per document (positional
    slide over the token array, JVM-side).

    Documents with fewer than ``n`` tokens yield NO shingles: the index
    sequence is guarded with ``when(k >= 1, ...)`` because Spark's
    ``sequence(0, -1)`` is the DESCENDING [0, -1] (not empty), which would
    drive ``slice`` with an invalid start and abort the job — matching the
    SQL twins' ``t3 IS NOT NULL`` filter instead."""
    sh = shingle_array(n, text_col)
    # the distinct (id, shingle) set is computed IN-ROW (array_distinct
    # before the explode — a doc's shingles are already co-located in its
    # row), not with a .distinct() aggregation: when ``id_col`` is unique
    # per row (the default doc_id contract) the per-doc dedup IS the
    # entire (id, shingle) dedup, so the former distinct() Exchange of
    # the largest relation in every consumer was pure waste (r07; one
    # full shuffle removed from the whole jaccard/minhash-verified/prefix
    # family). Callers grouping by a NON-unique id (e.g. source_overlap's
    # id_col="source") pass id_unique=False to keep the global distinct
    # on the in-row-reduced rows. ``distinct=False`` skips even the
    # in-row dedup for consumers whose aggregate is multiset-invariant
    # (min-hash: min over duplicates == min over the set).
    out = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(sh) if distinct else sh).alias("shingle"),
    )
    if distinct and not id_unique:
        out = out.distinct()
    return out


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(text_hash, keep_id, n_dups): groups of byte-identical texts."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"),
                    F.col(id_col).alias("id"))
        .groupBy("text_hash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_unique: bool = True,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with n-gram Jaccard >= threshold.

    Fully relational: sizes per doc, intersection via shingle equi-join,
    union by inclusion-exclusion. ``max_shingle_df`` drops ubiquitous
    shingles — ON BY DEFAULT, because the pair fan-out is sum(df^2) over
    shingles and a single boilerplate shingle shared by 10^6 docs yields
    10^12 pair rows at corpus scale. Sizes and intersections are both
    computed post-filter, so the estimate stays a true Jaccard over the
    retained shingle set. ``None`` disables.

    Plan shape: NO self-join. The distinct (id, shingle) set is grouped by
    shingle once; the grouped relation (one row per distinct shingle —
    vocabulary-sized, orders of magnitude below the corpus) is persisted and
    feeds both the in-row pair explosion (intersections) and the post-filter
    doc sizes, so the scan->shingle lineage runs exactly once. The df cap is
    applied BEFORE collect_list (window count + filter, same shuffle key):
    a ubiquitous boilerplate shingle spills through WindowExec and is
    dropped without ever materializing its full id array in one row.
    ``ngram_jaccard_drop_stats`` reports what the cap discarded."""
    sh = shingles_df(docs, n, id_col, text_col, id_unique=id_unique)
    if max_shingle_df:
        sh = _cap_group_size(sh, ["shingle"], max_shingle_df)
    from .caching import persist_tracked

    grouped = persist_tracked(sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    ))
    sizes = (
        grouped.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("sz"))
    )
    inter = (
        grouped.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    # SHUFFLE_HASH, not broadcast: Catalyst's static sizeInBytes for the
    # `inter` relation derives from tiny persisted-lineage stats, so the
    # planner tried to BROADCAST the candidate-pair side — sum(df^2)-sized
    # on a boilerplate-heavy corpus (observed driver OOM at 10x gate
    # scale), unbounded at 100 TB. The scale-correct plan shuffles on the
    # id key and hash-builds the bounded per-partition sizes side.
    return (
        inter.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        # integer HALF_UP ppm then exact /1e6 — see money.half_up_scaled
        # for the half-boundary rationale (r06 money sweep).
        .withColumn(
            "jaccard_ppm",
            half_up_scaled("inter", "sz_a + sz_b - inter", 1_000_000),
        )
        .filter(F.col("jaccard_ppm") >= int(round(threshold * 1e6)))
        .select("id_a", "id_b",
                (F.col("jaccard_ppm") / F.lit(1000000.0)).alias("jaccard"))
    )


# Universal-hash family over the 32-bit base shingle hash: identical
# integer math in Spark and DuckDB ((2h+1)x + h*12582917 mod 2^31-1; all
# intermediates < 2^38, safely inside int64).
MINHASH_MOD = 2_147_483_647  # 2^31 - 1 (prime)
MINHASH_SALT = 12_582_917


def _salted_hash(x: Column, h: int) -> Column:
    return ((2 * h + 1) * x + h * MINHASH_SALT) % MINHASH_MOD


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, m0..m{k-1}): k salted min-hashes over n-gram shingles, WIDE form.

    One shuffle total: each shingle is md5-hashed ONCE (the expensive,
    cross-engine-portable step); the k salted variants are derived with pure
    integer arithmetic and reduced by k algebraic ``min`` aggregates in a
    single ``groupBy(id)`` (map-side combined). Shingles are intentionally
    NOT deduplicated first — min over a multiset equals min over the set,
    so the distinct() shuffle is pure waste here."""
    sh = shingles_df(docs, n, id_col, text_col, distinct=False)
    base = sh.select("id", md5_int32(F.col("shingle")).alias("x"))
    return base.groupBy("id").agg(
        *[
            F.min(_salted_hash(F.col("x"), h)).alias(f"m{h}")
            for h in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    max_bucket_size: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, n_bands): candidate near-dup pairs sharing >= 1 LSH band.

    Bands: the k minhashes are grouped into k/band_size bands; a band's
    bucket key is the md5 of its concatenated minhashes; docs colliding in a
    band bucket are candidates.

    Pairs are produced WITHOUT a self-join: ``groupBy(band, bucket)``
    collects each bucket's member ids once, then explodes the in-bucket
    pairs — the expensive scan->shingle->signature lineage is computed
    exactly once (a self-join would recompute it per join side), and the
    single shuffle key is (band, bucket). ``max_bucket_size`` is the skew
    guard: a bucket larger than the cap (boilerplate text hashing
    identically) would emit O(size^2) pairs, so it is dropped whole — at
    corpus scale such buckets are exact-dup families that the cheaper
    ``exact_dedup`` pass already collapses. Pass ``None`` to disable.

    Plan shape: 3 shuffles end to end — groupBy(id) for the wide signature,
    groupBy(band, bucket) for membership, groupBy(id_a, id_b) for the band
    count. No self-join, no distinct, one md5 per shingle occurrence."""
    banded = _minhash_banded(docs, num_hashes, band_size, n, id_col,
                             text_col, signatures=signatures)
    pairs = _bucket_pairs(banded, ["band", "bucket"], "id", max_bucket_size)
    return pairs.groupBy(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    ).agg(F.count("*").alias("n_bands"))


def ngram_jaccard_prefix_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_unique: bool = True,
) -> DataFrame:
    """(id_a, id_b, jaccard): EXACTLY ngram_jaccard_pairs' output via
    prefix filtering (Bayardo et al. WWW'07 AllPairs / PPJoin prefix):
    with every doc's shingle set ordered by ascending global df, two docs
    with Jaccard >= t MUST share a shingle among each one's first
    |d| - ceil(t*|d|) + 1 (their "prefix"), so candidate pairs are
    generated from PREFIX shingles only — the pair fan-out drops from
    sum(df^2) over all shingles to the rare-shingle prefixes, exactly the
    term that explodes on boilerplate-heavy corpora. Candidates are then
    verified with the full intersection (shuffle-hash equi-joins, only
    candidate pairs' rows), so the output is identical (gate-pinned: this
    query shares ngram_jaccard's DuckDB twin).

    The global shingle ordering is a row_number over the VOCABULARY
    relation (distinct shingles) — a single-partition sort bounded by
    vocabulary size, not corpus size; at extreme vocabularies replace
    with a two-level rank (df band, then hash).

    WHEN TO USE (measured): the win requires a SKEWED df distribution —
    boilerplate shingles rank last and fall out of every prefix, pruning
    exactly the quadratic term. On this repo's synthetic fixture the df
    distribution is near-uniform, so the prefix prunes almost nothing and
    the extra verify joins make this 4-5x SLOWER than
    ``ngram_jaccard_pairs`` at 10x gate scale (123-187s vs 25-55s) —
    plain jaccard's grouped explosion gets intersection counts for free.
    Pick this form when drop-stats show the df cap discarding real mass;
    pick the plain form when df is flat. Output is identical either way
    (pytest + shared gate twin)."""
    from .caching import persist_tracked

    sh0 = shingles_df(docs, n, id_col, text_col, id_unique=id_unique)
    if max_shingle_df:
        sh0 = _cap_group_size(sh0, ["shingle"], max_shingle_df)
    sh = persist_tracked(sh0)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    rank = dfreq.select(
        "shingle",
        F.row_number().over(
            Window.orderBy(F.col("df"), F.col("shingle"))
        ).alias("rk"),
    )
    sized = sh.join(rank.hint("shuffle_hash"), "shingle")
    w_doc = Window.partitionBy("id").orderBy("rk")
    with_pos = sized.select(
        "id", "shingle", F.row_number().over(w_doc).alias("pos"),
        F.count("*").over(Window.partitionBy("id")).alias("sz"),
    )
    # Prefix bound with two FP safety margins, both LENGTHENING the prefix
    # (recall-safe, never pruning-unsafe): (a) the pair filter below
    # compares the 6dp-ROUNDED jaccard, so a pair with true J in
    # [t - 5e-7, t) still passes it — derive the bound from t - 5e-7;
    # (b) double multiplication can overshoot an exact product
    # (0.07 * 100 = 7.000000000000001 -> ceil 8 would prune a valid
    # pair) — subtract 1e-9 before ceil.
    alpha = F.ceil(
        F.lit(threshold - 5e-7) * F.col("sz") - F.lit(1e-9)
    )
    prefix = with_pos.filter(F.col("pos") <= F.col("sz") - alpha + 1)
    cand = (
        _bucket_pairs(prefix.select("shingle", "id"), ["shingle"], "id",
                      None)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
    return _verify_exact_jaccard(cand, sh, threshold)


def _minhash_banded(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bucket): the banded LSH keys behind minhash_lsh_pairs —
    shared by the pair generator and the drop-stats observability query.
    ``signatures`` lets a caller that already holds (persisted) wide
    signatures feed them in, so the scan -> shingle -> md5 lineage is not
    walked a second time (r07: the calibration query's duplicate pass)."""
    if num_hashes % band_size != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_size "
            f"({band_size}) — a partial band would silently drop the "
            f"trailing minhashes from the signature"
        )
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(docs, num_hashes, n, id_col, text_col)
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{h}").cast("string")
                        for h in range(b * band_size, (b + 1) * band_size)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(num_hashes // band_size)
    ]
    return sig.select(
        "id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def ngram_jaccard_drop_stats(
    docs: DataFrame,
    n: int = 3,
    max_shingle_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_unique: bool = True,
) -> DataFrame:
    """One row (n_dropped_groups, n_dropped_rows): how many shingles (and
    (id, shingle) rows) the ``max_shingle_df`` guard in
    ``ngram_jaccard_pairs`` discarded. ``id_unique=False`` counts the
    distinct (id, shingle) rows of a non-unique id column, as
    ``shingles_df`` does."""
    return group_drop_stats(
        shingles_df(docs, n, id_col, text_col, id_unique=id_unique),
        ["shingle"], max_shingle_df,
    )


def minhash_lsh_drop_stats(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    max_bucket_size: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row (n_dropped_groups, n_dropped_rows): buckets (and memberships)
    the ``max_bucket_size`` guard in ``minhash_lsh_pairs`` discarded."""
    banded = _minhash_banded(docs, num_hashes, band_size, n, id_col, text_col)
    return group_drop_stats(banded, ["band", "bucket"], max_bucket_size)


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    n_blocks: int = 4,
    max_bucket_size: int | None = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, hamming): near-duplicate pairs whose SimHash signatures
    differ in at most ``max_hamming`` bits — the Manku/Jain/Sarma WWW'07
    web-dedup scheme. The signature is split into ``n_blocks`` equal-width
    blocks; by pigeonhole, any pair within ``max_hamming < n_blocks``
    differing bits shares at least one IDENTICAL block, so block-bucket
    candidate generation has exact recall (unlike probabilistic LSH), and
    verification is one integer ``bit_count(xor)`` per candidate.

    Same plan family as the other pair generators: grouped-bucket in-row
    pair explosion (no self-join), pre-collect skew cap (an all-identical
    boilerplate family would otherwise materialize one giant bucket — note
    the cap, when it fires, is the one thing that can cost recall; size it
    above the largest expected exact-dup family or run exact_dedup first)."""
    if bits % n_blocks != 0:
        raise ValueError(f"bits ({bits}) must divide into n_blocks "
                         f"({n_blocks}) equal-width blocks")
    if bits > 63:
        raise ValueError(
            f"bits ({bits}) exceeds 63: the signature lives in a signed "
            f"int64, so wider signatures would wrap and break the "
            f"pigeonhole recall guarantee"
        )
    if max_hamming >= n_blocks:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < n_blocks ({n_blocks}) "
            f"for the pigeonhole recall guarantee to hold"
        )
    from .caching import persist_tracked

    block_bits = bits // n_blocks
    # signatures: one zero-shuffle Arrow map stage (bit-identical to the
    # relational ``simhash``, pinned by pytest); three consumers (block
    # explosion + both verify join sides) — persist so it runs once
    sig = persist_tracked(simhash_arrow(docs, bits, id_col, text_col))
    # exact integer bit extraction (shift + mask): the former floor(x /
    # pow(2, k)) went through double math, which silently loses bits for
    # signatures wider than 53 bits
    block_structs = [
        F.struct(
            F.lit(b).alias("b"),
            F.shiftright(F.col("simhash"), b * block_bits)
            .bitwiseAND(F.lit((1 << block_bits) - 1)).alias("block"),
        )
        for b in range(n_blocks)
    ]
    blocks = sig.select(
        "id", F.explode(F.array(*block_structs)).alias("bb")
    ).select("id", F.col("bb.b").alias("b"), F.col("bb.block").alias("block"))
    cand = (
        _bucket_pairs(blocks, ["b", "block"], "id", max_bucket_size)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    # shuffle-hash verify joins: both sides grow with the corpus (the
    # signature relation is corpus-sized; the candidate set grows with
    # bucket count), so neither may be pinned as a static broadcast by
    # Catalyst's derived estimates — same defect class as the jaccard
    # sizes join (see ngram_jaccard_pairs)
    return (
        cand.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_minhash_pairs(
    old_docs: DataFrame,
    new_docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    max_bucket_size: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, n_bands, involves_new): MinHash-LSH candidate pairs
    INVOLVING the new batch — the incremental/CDC dedup shape: an ingest
    batch is checked against the existing corpus (and against itself)
    without re-emitting the corpus's internal pairs, which the original
    batch dedup already settled.

    Same plan family as ``minhash_lsh_pairs`` (grouped-bucket in-row pair
    explosion, pre-collect skew cap), with an is-new flag carried through
    the bucket membership so old-old pairs are filtered INSIDE the pair
    explosion — they never reach a shuffle. At production scale the old
    side's band buckets are a precomputed table (signatures are a pure
    function of text, so they persist across batches); here they are
    derived inline from ``old_docs``, and the per-batch cost is
    O(new-batch shingles) + one equi-join against the bucket table —
    never a rescan-the-corpus-per-batch quadratic. ``involves_new``
    distinguishes new-new pairs (dedup within the batch) from new-old
    (batch duplicates an existing document; the usual retention rule
    drops the new copy)."""
    banded = (
        _minhash_banded(old_docs, num_hashes, band_size, n, id_col, text_col)
        .withColumn("new", F.lit(0))
        .unionByName(
            _minhash_banded(new_docs, num_hashes, band_size, n, id_col,
                            text_col).withColumn("new", F.lit(1))
        )
    )
    pairs = _bucket_pairs(
        banded, ["band", "bucket"], F.struct("id", "new"), max_bucket_size,
        id_field="id",
    ).filter((F.col("a.new") == 1) | (F.col("b.new") == 1))
    return pairs.groupBy(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    ).agg(
        F.count("*").alias("n_bands"),
        F.when(F.max(F.col("a.new") + F.col("b.new")) == 2, "new_new")
        .otherwise("new_old").alias("involves_new"),
    )


def minhash_verified_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
    id_unique: bool = True,
) -> DataFrame:
    """(id_a, id_b, jaccard): MinHash-LSH candidates VERIFIED with the
    exact n-gram Jaccard — the standard production composition: LSH bounds
    the candidate set (no all-pairs scan), the verify pass removes its
    false positives, so the output carries the exact-similarity guarantee
    of ``ngram_jaccard_pairs`` at the candidate-generation cost of
    ``minhash_lsh_pairs``. The verify joins touch only candidate pairs'
    shingle rows (two equi-joins on id then shingle), never the corpus
    cross itself.

    ``max_shingle_df`` (default None = off) applies the SAME df cap to
    the verify-side shingle universe that ``ngram_jaccard_pairs``
    applies, so a router that falls back here scores each pair over the
    identical capped universe as the exact route — without it the same
    pair can carry a different jaccard (and flip across the threshold)
    depending on which route ran (ADVICE r05). The candidate-generation
    signatures stay uncapped either way — the cap changes which pairs
    can be FOUND only through recall, never a found pair's value."""
    from .caching import persist_tracked

    cand = minhash_lsh_pairs(
        docs, num_hashes, band_size, n, max_bucket_size, id_col, text_col
    ).select("id_a", "id_b")
    # three consumers (sizes + both join sides) — persist the distinct
    # shingle relation so the tokenize/explode/distinct lineage runs once
    sh = shingles_df(docs, n, id_col, text_col, id_unique=id_unique)
    if max_shingle_df:
        sh = _cap_group_size(sh, ["shingle"], max_shingle_df)
    sh = persist_tracked(sh)
    return _verify_exact_jaccard(cand, sh, threshold)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shared_ngrams): training documents CONTAMINATED by a
    benchmark/eval set — any document sharing >= 1 n-gram with any benchmark
    document (the GPT-3/Pile-style n-gram decontamination rule; distinct
    from dedup, which compares the corpus against itself).

    The benchmark n-gram set is tiny relative to the corpus -> broadcast
    semi-shaped join: the corpus shingles stream once, the benchmark
    shingles never shuffle. Benchmark members themselves are excluded from
    the output (they are not 'contaminated', they ARE the benchmark)."""
    bench_ids = benchmark.select(F.col(id_col).alias("bench_id")).distinct()
    bench_sh = (
        shingles_df(benchmark, n, id_col, text_col)
        .select("shingle")
        .distinct()
    )
    sh = shingles_df(docs, n, id_col, text_col)
    sh = sh.join(
        F.broadcast(bench_ids),
        sh["id"] == bench_ids["bench_id"],
        "left_anti",
    )
    return (
        sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared_ngrams"))
        .select(F.col("id").alias("doc_id"), "n_shared_ngrams")
    )


def simhash_arrow(docs: DataFrame, bits: int = 32, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, simhash): the mapInArrow/NumPy twin of ``simhash`` — one map
    stage, zero shuffles, bit-identical output (pinned by pytest).

    Why it exists: the relational form explodes ``bits`` vote rows PER
    TOKEN OCCURRENCE before its first groupBy — a 32x constant factor on
    the token stream (linear and map-side combined, but pure overhead).
    Here each batch tokenizes in-process, memoizes the per-token md5
    (vocabulary is tiny relative to occurrences), accumulates the +-1 bit
    votes as one NumPy reduction per document and emits one row — the same
    pattern as ``similarity.lsh_band_buckets_arrow``. The relational form
    remains the DuckDB-twin reference path.

    Semantics replicated exactly: Spark's split-on-space (trailing/empty
    fragments kept, so ``"a  b"`` yields an empty middle token), md5-hex
    32-bit token hash, bit set iff its vote sum is STRICTLY positive, and
    NULL texts dropped (the relational explode skips them)."""
    import pyarrow as pa

    from pyspark.sql.types import LongType, StructField, StructType

    if bits > 63:
        raise ValueError(f"bits ({bits}) exceeds 63: signed-int64 signature")
    out_schema = StructType([
        StructField("id", docs.schema[id_col].dataType),
        StructField("simhash", LongType()),
    ])

    def compute(batches):
        pyworker.install()
        import hashlib

        import numpy as np

        shifts = np.arange(bits, dtype=np.int64)
        bit_w = np.int64(1) << shifts
        memo: dict[str, int] = {}

        def th(tok: str) -> int:
            h = memo.get(tok)
            if h is None:
                h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16)
                memo[tok] = h
            return h

        for b in batches:
            texts = b.column(1)
            keep, sigs = [], []
            for i in range(b.num_rows):
                t = texts[i].as_py()
                if t is None:
                    continue
                hv = np.fromiter(
                    (th(tok) for tok in t.split(" ")), dtype=np.int64
                )
                votes = (
                    (((hv[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
                )
                keep.append(i)
                sigs.append(int(bit_w[votes > 0].sum()))
            if not keep:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).take(pa.array(keep, type=pa.int64())),
                    pa.array(sigs, type=pa.int64()),
                ],
                names=["id", "simhash"],
            )

    return docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInArrow(compute, out_schema)


def simhash(docs: DataFrame, bits: int = 32, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """(id, simhash): 32-bit SimHash over tokens, computed relationally.

    Each token's 32-bit hash votes +1/-1 per bit position; the sign of each
    bit's vote sum sets that bit. Pure integer math -> bit-identical across
    engines. ``simhash_arrow`` is the zero-shuffle map-stage twin the pair
    generator runs; this form is the DuckDB-twin reference path."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("token")
    ).withColumn("hv", md5_int32(F.col("token")))
    votes = (
        toks.select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
            "hv",
        )
        .withColumn(
            "vote",
            (F.floor(F.col("hv") / F.pow(F.lit(2), F.col("b"))).cast("long")
             % 2) * 2 - 1,
        )
        .groupBy("id", "b")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.pow(F.lit(2), F.col("b")).cast("long"))
            .otherwise(0)
        ).cast("long").alias("simhash")
    )


def cluster_victims_from_pairs(pairs: DataFrame,
                               id_col: str = "doc_id") -> DataFrame:
    """(doc_id): non-minimum members of each near-dup CLUSTER.

    Verified pairs are closed into connected components before choosing
    victims — TRUE keep-min-per-cluster semantics. Dropping every id_b of
    the pair list (the former job-driver rule) keeps all locally-minimal
    docs, not one representative per cluster: pairs (a,c),(b,c) with
    a<b<c kept BOTH a and b. CC runs on the pair edges only
    (family-bounded, never the corpus); ids go through the shared
    full-int64-width string key so CC's string-min equals numeric min."""
    from .canonicalize import connected_components, fixed_width_key

    id_type = pairs.schema["id_a"].dataType
    comp = connected_components(
        pairs.select(fixed_width_key(F.col("id_a")).alias("src"),
                     fixed_width_key(F.col("id_b")).alias("dst"))
    )
    return (
        comp.filter(F.col("node") != F.col("comp"))
        .select(F.col("node").cast(id_type).alias(id_col))
    )


def corpus_dedup_victims(
    docs: DataFrame,
    method: str = "exact",
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id): documents a corpus-dedup pre-stage should DROP.

    ``exact``: higher-id members of byte-identical families. Only families
    with n_dups > 1 — family-bounded, far below corpus size — are kept and
    BROADCAST against a map-side md5 of the corpus; the survivor set (one
    id per distinct text, ~corpus-sized on a mostly-unique corpus) is
    never broadcast and the corpus never shuffles.

    ``minhash``: LSH+exact-verify near-dup pairs closed into connected
    components; every non-minimum cluster member is a victim (see
    ``cluster_victims_from_pairs``)."""
    if method == "exact":
        fams = exact_dedup(docs, id_col, text_col).filter(
            F.col("n_dups") > 1
        ).select("text_hash", "keep_id")
        hashed = docs.select(F.md5(F.col(text_col)).alias("text_hash"),
                             F.col(id_col))
        # NULL-SAFE equality: md5(NULL text) is NULL, and exact_dedup's
        # groupBy treats all NULL-text docs as one family — a plain
        # equi-join would never match them and silently retain every
        # NULL-text duplicate (r05 review finding)
        return (
            hashed.join(
                F.broadcast(fams),
                hashed["text_hash"].eqNullSafe(fams["text_hash"]),
            )
            .filter(F.col(id_col) != F.col("keep_id"))
            .select(id_col)
        )
    if method == "minhash":
        pairs = minhash_verified_pairs(
            docs, threshold=threshold, id_col=id_col, text_col=text_col
        )
        return cluster_victims_from_pairs(pairs, id_col)
    raise ValueError(f"unknown dedup method: {method!r}")


def apply_corpus_dedup(
    docs: DataFrame,
    method: str = "exact",
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus minus its dedup victims: one broadcast anti-join on the
    victim ids (bounded by dup families), so the corpus streams through
    untouched — the composition the deployment job driver runs before
    tagging."""
    victims = corpus_dedup_victims(docs, method, threshold, id_col, text_col)
    return docs.join(F.broadcast(victims), id_col, "left_anti")


def estimate_candidate_pair_mass(
    docs: DataFrame,
    n: int = 3,
    max_shingle_df: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_unique: bool = True,
) -> int:
    """sum over retained shingles of C(df, 2): the exact number of
    candidate-pair rows ``ngram_jaccard_pairs`` will explode. One
    profile job over the vocabulary-sized df relation (the corpus is
    scanned once, reduced map-side to per-shingle counts); the result is
    a single driver scalar. The df cap is applied as a plain filter on
    the aggregated counts — equivalent to ``_cap_group_size`` (which
    drops whole groups above the cap) without its corpus-wide WindowExec
    sort, since only the per-shingle df matters here."""
    dfr = (
        shingles_df(docs, n, id_col, text_col, id_unique=id_unique)
        .groupBy("shingle").agg(F.count("*").alias("df"))
    )
    if max_shingle_df:
        dfr = dfr.filter(F.col("df") <= max_shingle_df)
    row = dfr.agg(
        F.coalesce(
            F.sum((F.col("df") * (F.col("df") - 1) / 2).cast("long")),
            F.lit(0),
        ).alias("mass")
    ).collect()[0]
    return int(row.mass)


# Routing budget: candidate-pair rows the exact pair explosion may emit
# before the routed form switches to LSH+verify. ~20M pair rows verify in
# seconds on a handful of executors; past it the sum(df^2) explosion
# dominates end-to-end time (measured: the 10x gate corpus's flat-but-fat
# df profile reaches ~127M pairs and turns the exact form superlinear —
# 19x time for 10x data — while minhash_verified stays sublinear).
JACCARD_PAIR_BUDGET = 20_000_000


def ngram_jaccard_pairs_routed(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    pair_budget: int = JACCARD_PAIR_BUDGET,
    id_col: str = "doc_id",
    text_col: str = "text",
    route: str | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard): n-gram Jaccard pairs with AUTOMATIC routing
    (VERDICT r04 #4): a one-scalar profile job measures the exact
    explosion's candidate-pair mass; within ``pair_budget`` the exact
    relational form runs (complete recall), beyond it the plan reroutes
    to ``minhash_verified_pairs`` — same output schema, every emitted
    pair still verified with the EXACT jaccard (precision is preserved;
    recall becomes the LSH band guarantee, the standard trade at corpus
    scale). The df cap alone cannot catch a flat-but-fat df profile
    (millions of shingles each just under the cap), which is exactly
    where sum(df^2) goes superlinear.

    Costs one extra corpus scan for the profile; at 100 TB that scan is
    map-side-reduced to the vocabulary and is noise next to the pair
    explosion it prevents. ``route`` overrides the profile: "exact" or
    "lsh" skips the eager mass job entirely, so callers that already
    know the regime (the gate at a pinned sf, dump_plans, a production
    job re-running a profiled corpus) build the plan LAZILY — the
    no-eager-job-at-plan-build contract (ADVICE r05). Both routes score
    every emitted pair over the SAME df-capped shingle universe
    (``max_shingle_df`` is forwarded to the LSH verify pass), so a
    pair's jaccard value never depends on which side of the budget the
    corpus landed; only recall differs (the LSH band guarantee)."""
    if route is None:
        mass = estimate_candidate_pair_mass(
            docs, n, max_shingle_df, id_col, text_col
        )
        route = "exact" if mass <= pair_budget else "lsh"
    if route == "exact":
        return ngram_jaccard_pairs(
            docs, n, threshold, max_shingle_df, id_col, text_col
        )
    if route != "lsh":
        raise ValueError(f"route must be 'exact', 'lsh' or None: {route!r}")
    return minhash_verified_pairs(
        docs, n=n, threshold=threshold, id_col=id_col, text_col=text_col,
        max_shingle_df=max_shingle_df,
    )

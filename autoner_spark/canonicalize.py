"""Connected-components canonicalization (DataFrame-native, no GraphFrames).

CC serves the queries whose edges do merge nodes: the shared-token
surface graph (``queries.surface_components_df``) and near-duplicate
clustering (``dedup.cluster_victims_from_pairs``). The main chain
(``triples.build_kg``, whose triples tools/run_job.py's bucket jobs write)
does not run it: its entity id is ``'ent:' || surface_norm``,
because every edge ``triples.link_mentions`` can produce (a mention's norm
to the norm of the dictionary surface joined ON that norm) is a self-loop,
so its components are single nodes (``triples.canonical_entities`` keeps
the CC form as the reference).

``connected_components`` picks one of two executors from the distinct edge
count it observes: driver-side union-find below ``driver_threshold``, else
alternating large-star/small-star (Kiveris et al., SoCC'14,
``connected_components_star``) over DataFrames. Both label a node with the
string-min node of its component, so the output is deterministic and
partition-count independent.

Scale notes (10^12-edge graphs): star converges in O(log n) rounds on any
graph shape, so a chain cannot force O(diameter) rounds; each round's
lineage is truncated with ``localCheckpoint`` so plans don't grow. Hot
components (a hot entity's surface connected to everything) skew the
per-node min aggregate — AQE skew handling is on, and the combine is
algebraic (min), so map-side partial aggregation already collapses the hot
key per partition before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id
    (string min) of the node's connected component.

    Deterministic for any partitioning; isolated nodes must appear as
    self-loops or be unioned by the caller.

    Scale-adaptive (the CC analogue of a broadcast-join threshold): the
    DISTINCT undirected edge set — each edge oriented once, so (a, b) and
    (b, a) count as one; tiny for surface-equivalence graphs even when the
    mention stream is 10^12 rows, since it is bounded by distinct surface
    forms — is counted first; at most ``driver_threshold`` undirected
    edges, the component labeling runs as driver-side union-find on the
    collected distinct edges (one shuffle for distinct, no iteration).
    Above it, ``connected_components_star`` runs with ``max_iter`` rounds.
    Both paths produce identical labels.
    """
    # undirected: orient each edge once (greatest -> least, the form the
    # star rounds work on); self-loops stay, they carry isolated nodes
    sym = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select(F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"))
        .distinct()
    )

    if driver_threshold:
        # ONE job decides the path AND fetches the edges: collect at most
        # threshold+1 distinct edges; only if the limit is hit do we pay for
        # the distributed rounds. (A separate count() job would recompute
        # the whole distinct-edge lineage a second time.)
        head = sym.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            labels = _union_find_labels([(r.src, r.dst) for r in head])
            return edges.sparkSession.createDataFrame(
                sorted(labels.items()), "node string, comp string"
            )

    return connected_components_star(sym, "src", "dst", max_iter=max_iter)


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating Large-Star / Small-Star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    (node, comp) with comp = min node of the component.

    The distributed path: O(log n) rounds on any graph, where label
    propagation would need O(diameter) (a 10^6-long chain: 10^6 rounds).
    Each round is two aggregate+join passes over the edge list — per-node
    neighbor minima only, never a collected neighbor list, so a hot node
    with 10^9 neighbors costs one min-aggregate (map-side combined), not a
    driver-sized array.

    large-star: every neighbor v > u re-attaches to m = min(Γ(u) ∪ {u});
    small-star: every neighbor v <= u (and u itself) attaches to m.
    Every edge leaves a round as (u, v) with v < u. The rounds stop after
    the first one whose edge set is a forest of stars: every u has exactly
    one edge and no v is also a u. Such a set is a fixed point of both
    steps, and each star's centre is the minimum of its component, so the
    edge set is exactly {(child, root)}. Each round runs one Spark action
    for that test. Raises ``RuntimeError`` if ``max_iter`` rounds end
    before the edge set is a forest of stars (partial labels would split
    components without any sign).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # drop self-loops; keep one undirected copy oriented big->small
    e = (
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _min_link(ed: DataFrame) -> DataFrame:
        """m(u) = min(Γ(u) ∪ {u}) over the SYMMETRIZED edge set."""
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        return (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )

    def _is_star_forest(ed: DataFrame) -> bool:
        """No node has two edges as u, or one as u and any as v: per node,
        (edges as u) + (1 if it is some edge's v) never exceeds 1."""
        roles = ed.select(F.col("u").alias("node"), F.lit(1).alias("as_u"),
                          F.lit(0).alias("as_v")).union(
            ed.select("v", F.lit(0), F.lit(1)))
        return (
            roles.groupBy("node")
            .agg((F.sum("as_u") + F.max("as_v")).alias("k"))
            .filter(F.col("k") > 1)
            .isEmpty()
        )

    for _ in range(max_iter):
        # LARGE-STAR: neighbors strictly greater than u attach to m(u)
        m = _min_link(e)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        e = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # SMALL-STAR: u and its smaller neighbors attach to m(u)
        m = _min_link(e)
        small = (
            e.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        e = small
        if _is_star_forest(e):
            break
    else:
        raise RuntimeError(
            f"connected_components_star: edge set not a forest of stars "
            f"after max_iter={max_iter} rounds"
        )

    labels = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("comp", "node").alias("comp"))
    )


def _union_find_labels(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Min-label union-find over undirected edge pairs, each in either
    orientation (driver-side path)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {node: find(node) for node in list(parent)}


def fixed_width_key(col, width: int = 20):
    """Nonnegative integer id -> fixed-width zero-padded string whose
    STRING min equals the numeric min (what connected_components needs
    for keep-min-id semantics on numeric ids).

    Width 20 covers the full int64 range (19 digits): Spark's ``lpad``
    TRUNCATES inputs longer than the target width, so an undersized
    width silently merges distinct ids into one node and corrupts
    components (r05 review finding — 13-digit ids under the old
    width-12 key truncated to the same node). Negative ids are out of
    contract ('-' sorts before digits)."""
    return F.lpad(col.cast("string"), width, "0")

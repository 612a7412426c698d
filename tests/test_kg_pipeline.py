"""Linking -> CC canonicalization -> triples, vs a pure-Python oracle."""

import pytest

from autoner_spark import synth
from autoner_spark.canonicalize import connected_components
from autoner_spark.dictionary import build_trie
from autoner_spark.evaluate import per_type_prf, span_prf
from autoner_spark.oracle import tag_turn
from autoner_spark.textutil import ascii_lower, tokenize_turn
from autoner_spark.triples import build_kg


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")],
        "src string, dst string",
    )
    comp = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}


def test_connected_components_random_graph_both_paths_agree(spark):
    """3k-node random graph: the distributed star path (forced by
    ``driver_threshold=0``) must produce exactly the driver union-find
    labeling."""
    import random

    rng = random.Random(7)
    nodes = [f"n{i:04d}" for i in range(3000)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(2500)
    ] + [(n, n) for n in nodes[:100]]  # some singletons via self-loops
    df = spark.createDataFrame(edges, "src string, dst string").repartition(9)
    fast = {
        (r.node, r.comp)
        for r in connected_components(df).collect()  # driver path
    }
    dist = {
        (r.node, r.comp)
        for r in connected_components(df, driver_threshold=0,
                                      max_iter=40).collect()
    }
    assert fast == dist
    comps = {}
    for node, comp in fast:
        comps.setdefault(comp, []).append(node)
    assert all(min(v) == k for k, v in comps.items())  # min-label invariant


def test_connected_components_star_agrees(spark):
    """Large-star/small-star (the giant-component path) must produce the
    identical min-label components as union-find, on a random graph, a hot
    star, a long chain (label propagation's worst case), and isolated
    self-loops."""
    import random

    from autoner_spark.canonicalize import connected_components_star

    rng = random.Random(13)
    nodes = [f"n{i:04d}" for i in range(800)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(700)]
    edges += [("hot", n) for n in nodes[:150]]          # hot star center
    edges += [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(120)]  # chain
    edges += [(n, n) for n in nodes[:50]]               # isolated self-loops
    df = spark.createDataFrame(edges, "src string, dst string").repartition(7)

    star = {(r.node, r.comp)
            for r in connected_components_star(df, max_iter=12).collect()}
    want = {(r.node, r.comp) for r in connected_components(df).collect()}
    assert star == want
    # the 121-node chain collapsed to its min label — in <= 12 rounds,
    # where label propagation would need ~120
    assert ("c120", "c000") in star


def test_connected_components_long_chain_auto_selects_star(spark):
    """Public entry point, long-chain fixture: above the driver threshold
    the AUTOMATIC distributed path must be the O(log n) star algorithm —
    a 300-edge chain labels correctly in far fewer rounds than its
    diameter (label propagation at the same max_iter would stop short)."""
    rows = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(300)]
    df = spark.createDataFrame(rows, "src string, dst string").repartition(5)
    got = {(r.node, r.comp)
           for r in connected_components(df, driver_threshold=10,
                                         max_iter=20).collect()}
    assert len(got) == 301
    assert all(comp == "c000" for _, comp in got)
    # star is the only distributed path: there is no selector left
    with pytest.raises(TypeError, match="distributed"):
        connected_components(df, driver_threshold=0, distributed="hashmin")


def test_connected_components_star_raises_when_max_iter_exhausted(spark):
    """A budget that ends before the star rounds reach their fixed point
    must fail loudly, not return partial labels that split the chain."""
    rows = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(300)]
    df = spark.createDataFrame(rows, "src string, dst string").repartition(5)
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(df, driver_threshold=10, max_iter=1).collect()


def test_connected_components_star_stops_at_first_star_forest(spark):
    """The rounds end as soon as the edge set is a forest of stars, not
    one round later when it repeats: the 300-edge chain converges within
    9 rounds and labels as driver-side union-find does."""
    from autoner_spark.canonicalize import _union_find_labels

    rows = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(300)]
    df = spark.createDataFrame(rows, "src string, dst string").repartition(5)
    got = {(r.node, r.comp)
           for r in connected_components(df, driver_threshold=10,
                                         max_iter=9).collect()}
    assert got == set(_union_find_labels(rows).items())


def test_connected_components_chain_and_determinism(spark):
    # a long chain needs multiple star rounds; compare the driver-side
    # union-find path against the distributed star path
    n = 12
    rows = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)]
    e1 = spark.createDataFrame(rows, "src string, dst string").repartition(1)
    e2 = spark.createDataFrame(rows, "src string, dst string").repartition(7)
    c1 = {(r.node, r.comp) for r in connected_components(e1).collect()}
    c2 = {
        (r.node, r.comp)
        for r in connected_components(e2, driver_threshold=0).collect()
    }
    assert c1 == c2
    assert all(comp == "n00" for _, comp in c1)


def test_connected_components_threshold_counts_undirected_edges(
        spark, monkeypatch):
    """An edge listed in both directions is one edge: a k-edge graph given
    both ways (2k rows) stays on the driver path at ``driver_threshold=k``
    and labels as the k-edge graph does."""
    from autoner_spark import canonicalize

    def no_star(*args, **kwargs):
        raise AssertionError("took the distributed star path")

    monkeypatch.setattr(canonicalize, "connected_components_star", no_star)
    k = 6
    rows = [(f"n{i}", f"n{i + 1}") for i in range(k)] + [("x", "y")]
    rows += [(b, a) for a, b in rows]
    df = spark.createDataFrame(rows, "src string, dst string").repartition(3)
    got = {(r.node, r.comp)
           for r in connected_components(df, driver_threshold=k + 1).collect()}
    assert got == {(f"n{i}", "n0") for i in range(k + 1)} | {
        ("x", "x"), ("y", "x")}


# ---------------------------------------------------------------------------
# pure-Python oracle for the full KG (union-find; independent of Spark path)
# ---------------------------------------------------------------------------


def oracle_kg(rows, spec):
    trie = build_trie(spec)
    dict_norms = {ascii_lower(s) for _, s in spec.core}
    mentions = []
    for row in rows:
        toks = tokenize_turn(row["text"])
        for m in tag_turn(toks, trie):
            mentions.append((row["conv_id"], row["turn_idx"], m))

    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-label semantics
            lo, hi = sorted((ra, rb))
            parent[hi] = lo

    for _, _, m in mentions:
        norm = ascii_lower(m.surface)
        union(norm, norm if norm not in dict_norms else norm)
        find(norm)
        if norm in dict_norms:
            union(norm, norm)

    # canonical component = min member; with identity edges components are
    # keyed by surface_norm itself unless aliases exist
    triples = set()
    for conv_id, turn_idx, m in mentions:
        norm = ascii_lower(m.surface)
        subj = "ent:" + min(
            find(norm), norm
        )  # identity components -> norm itself
        for t in m.entity_type.split(","):
            triples.add((subj, "has_type", t, conv_id, turn_idx))
        triples.add((subj, "mentioned_in", f"{conv_id}#{turn_idx}", conv_id, turn_idx))
    return triples


@pytest.fixture(scope="module")
def kg(spark):
    spec = synth.dict_spec()
    transcripts = synth.synth_transcripts(spark, 20, partitions=4)
    result = build_kg(spark, transcripts, spec)
    for df in result.values():
        df.cache()
    result["triples"].count()  # materialize once for the module
    return result, spec


def test_triples_match_oracle(spark, kg):
    result, spec = kg
    got = {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx)
        for r in result["triples"].collect()
    }
    gold = oracle_kg(synth.local_rows(20), spec)
    assert gold
    assert got == gold


def test_case_variants_share_entity(spark, kg):
    result, _ = kg
    ents = {
        r.surface_norm: r.entity_id for r in result["entities"].collect()
    }
    # ALL-UPPER and raw variants normalize to one node -> one entity
    assert ents.get("hash join") == "ent:hash join"
    assert ents.get("ada lovelace") == "ent:ada lovelace"


def test_has_type_set_semantics(spark, kg):
    result, _ = kg
    types = {
        r.obj
        for r in result["triples"]
        .filter("pred = 'has_type' and subj = 'ent:stream'")
        .collect()
    }
    assert types == {"Object", "Operator"}


def test_span_prf_self_is_one(spark, kg):
    result, _ = kg
    m = result["mentions"]
    scores = span_prf(m, m)
    assert scores["precision"] > 0.999 and scores["recall"] > 0.999


def test_span_prf_subset(spark, kg):
    result, _ = kg
    m = result["mentions"].select(
        "conv_id", "turn_idx", "begin_tok", "end_tok", "entity_type"
    ).distinct()
    half = m.filter("pmod(hash(conv_id, turn_idx, begin_tok), 2) = 0")
    s = span_prf(half, m)
    assert s["precision"] > 0.999
    assert 0.2 < s["recall"] < 0.8

    pt = per_type_prf(half, m).collect()
    assert all(abs(r.precision - 1.0) < 1e-3 for r in pt if r.guess_cnt > 0)


def test_eval_gate_p_r_at_least_095(spark, kg):
    """The BASELINE.json gate, measured with the evaluation operator itself:
    distributed pipeline vs single-node oracle spans."""
    result, spec = kg
    trie = build_trie(spec)
    rows = synth.local_rows(20)
    gold_rows = []
    for row in rows:
        toks = tokenize_turn(row["text"])
        for m in tag_turn(toks, trie):
            gold_rows.append(
                (row["conv_id"], row["turn_idx"], m.begin_tok, m.end_tok,
                 m.entity_type)
            )
    gold = spark.createDataFrame(
        gold_rows,
        "conv_id string, turn_idx int, begin_tok int, end_tok int, entity_type string",
    )
    s = span_prf(result["mentions"], gold)
    assert s["precision"] >= 0.95 and s["recall"] >= 0.95  # actual: 1.0
    assert s["f1"] > 0.999


def test_exact_mentions_plan_is_shuffle_free(spark):
    """The exact-match mention scan must stay a zero-Exchange broadcast
    pipeline: in-row n-gram candidates + one BroadcastHashJoin against the
    dictionary — the 100x-safe plan shape (any Exchange here would shuffle
    the whole corpus before the dictionary filter)."""
    from autoner_spark.queries import exact_mentions_df

    df = exact_mentions_df(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan

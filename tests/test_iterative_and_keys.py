"""Iterative analytics, custom range-ordered keys, get-or-create."""

from pyspark.sql import functions as F

from gravitydb_spark import GraphBatchBuilder, Prop, PropertyGraph, execute
from gravitydb_spark.operators.iterative import connected_components, pagerank
from gravitydb_spark.ql import pq_from_to
from gravitydb_spark.schema import Schema

RAW = Schema(no_tag=frozenset({"T", "Sensor"}))


def test_connected_components_two_islands(spark):
    b = GraphBatchBuilder(RAW)
    a1 = b.add_node(Prop("T", "a1"), id="00000000-0000-0000-0000-00000000000a")
    a2 = b.add_node(Prop("T", "a2"), id="00000000-0000-0000-0000-00000000000b")
    a3 = b.add_node(Prop("T", "a3"), id="00000000-0000-0000-0000-00000000000c")
    z1 = b.add_node(Prop("T", "z1"), id="ffffffff-0000-0000-0000-000000000001")
    z2 = b.add_node(Prop("T", "z2"), id="ffffffff-0000-0000-0000-000000000002")
    b.add_edge(a1, a2, Prop("T", "e"))
    b.add_edge(a3, a2, Prop("T", "e"))  # direction must not matter (weak CC)
    b.add_edge(z1, z2, Prop("T", "e"))
    g = b.build(spark)

    comps = {r["id"]: r["component"] for r in connected_components(g).collect()}
    assert comps[a1] == comps[a2] == comps[a3] == a1
    assert comps[z1] == comps[z2] == z1
    assert comps[a1] != comps[z1]


def test_pagerank_star(spark):
    """Hub of a 3-spoke in-star must outrank the spokes."""
    b = GraphBatchBuilder(RAW)
    hub = b.add_node(Prop("T", "hub"))
    spokes = [b.add_node(Prop("T", f"s{i}")) for i in range(3)]
    for s in spokes:
        b.add_edge(s, hub, Prop("T", "e"))
    g = b.build(spark)
    ranks = {r["id"]: r["rank"] for r in pagerank(g, iters=10).collect()}
    assert ranks[hub] > max(ranks[s] for s in spokes)
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_custom_range_ordered_keys(spark):
    """designing_a_schema.adoc:240-300 — custom get_key enables meaningful
    FromTo range scans (e.g. la_<lat> geo keys)."""
    readings = [
        Prop("Sensor", f"reading@{lat}", key=f"la_{lat:06.2f}")
        for lat in (47.10, 48.13, 49.99, 52.52, 53.55)
    ]
    b = GraphBatchBuilder(RAW)
    for p in readings:
        b.add_node(p)
    g = b.build(spark)

    res = execute(g, pq_from_to("la_048.00", "la_053.00"))
    got = sorted(r["prop_hash"] for r in res.properties.collect())
    assert got == ["la_048.13", "la_049.99", "la_052.52"]

    # dedup still keys on the custom id: re-adding the same key collapses
    g2, _ = g.create_nodes(
        [("99999999-0000-0000-0000-000000000001", readings[0])]
    )
    assert (
        g2.properties.filter(F.col("prop_hash") == "la_047.10").count() == 1
    )


def test_get_or_create_nodes(spark):
    g, [vid] = PropertyGraph.empty(spark, RAW).create_nodes(
        [(None, Prop("T", "x"))]
    )
    # hit: same content -> existing id, graph unchanged
    g2, [got] = g.get_or_create_nodes([(None, Prop("T", "x"))])
    assert got == vid
    assert g2.vertices.count() == 1
    # miss: new content -> created
    g3, [new] = g2.get_or_create_nodes([(None, Prop("T", "y"))])
    assert new != vid
    assert g3.vertices.count() == 2


def test_sssp_weighted_prefers_cheap_detour(spark):
    """Hand-checked Bellman-Ford: the direct edge s->c costs 10 but the
    s->a->b->c detour costs 3; cycles must not loop; unreached vertices
    are absent."""
    from gravitydb_spark.operators.iterative import sssp_weighted

    edges = spark.createDataFrame(
        [
            ("s", "c", 10),
            ("s", "a", 1),
            ("a", "b", 1),
            ("b", "c", 1),
            ("c", "a", 0),   # zero-weight back-edge: cycle, total stays 3
            ("x", "y", 1),   # disconnected from s
        ],
        "from_id string, to_id string, w long",
    )
    sources = spark.createDataFrame([("s",)], "id string")
    dists = {r["id"]: r["dist"] for r in sssp_weighted(edges, sources).collect()}
    assert dists == {"s": 0, "a": 1, "b": 2, "c": 3}


def test_sssp_weighted_negative_cycle_raises(spark):
    from gravitydb_spark.operators.iterative import sssp_weighted

    edges = spark.createDataFrame(
        [("s", "a", 1), ("a", "b", -2), ("b", "a", -2)],
        "from_id string, to_id string, w long",
    )
    sources = spark.createDataFrame([("s",)], "id string")
    try:
        sssp_weighted(edges, sources, max_iters=6)
        raise AssertionError("negative cycle must not converge silently")
    except RuntimeError as e:
        assert "converge" in str(e)


def test_kcore_onion_clique_with_pendant_chain(spark):
    from gravitydb_spark.operators.iterative import kcore_onion

    # 4-clique {a,b,c,d} + pendant chain d–e–f–g. With k=2: round 1
    # removes g (deg 1); round 2 removes f (its degree fell to 1); round 3
    # removes e; the clique (and d, whose in-clique degree stays 3) is the
    # 2-core. Hand-computed onion layers, engine-independent.
    clique = [(x, y) for x in "abcd" for y in "abcd" if x < y]
    chain = [("d", "e"), ("e", "f"), ("f", "g")]
    e = spark.createDataFrame(clique + chain, "a string, b string")
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    got = {r["id"]: r["peel_round"] for r in kcore_onion(und, k=2).collect()}
    assert got == {"a": 0, "b": 0, "c": 0, "d": 0, "e": 3, "f": 2, "g": 1}


def test_kcore_onion_unconverged_raises(spark):
    import pytest as _pytest

    from gravitydb_spark.operators.iterative import kcore_onion

    # a 6-chain under k=2 needs 3 peel rounds; max_rounds=2 must raise
    chain = [(c, d) for c, d in zip("abcde", "bcdef")]
    e = spark.createDataFrame(chain, "a string, b string")
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    with _pytest.raises(RuntimeError, match="fixpoint"):
        kcore_onion(und, k=2, max_rounds=2)


def test_kcore_onion_depth_equal_to_budget_converges(spark):
    # 4-chain under k=2 peels in exactly 2 removal rounds (ends {a,d} then
    # {b,c}); max_rounds=2 must SUCCEED — the budget counts removal rounds
    # (matching the oracle's CTE unroll), with the confirming empty round
    # on top. Regression for the engines' off-by-one.
    from gravitydb_spark.operators.iterative import kcore_onion

    chain = [("a", "b"), ("b", "c"), ("c", "d")]
    e = spark.createDataFrame(chain, "a string, b string")
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    got = {r["id"]: r["peel_round"] for r in kcore_onion(und, k=2, max_rounds=2).collect()}
    assert got == {"a": 1, "d": 1, "b": 2, "c": 2}


def test_truss_peel_clique_with_pendant(spark):
    from gravitydb_spark.operators.iterative import truss_peel

    # 4-clique {a,b,c,d} + pendant edge d–e. k=4 (support ≥ 2): every
    # clique edge closes 2 triangles → survives (0); the pendant closes
    # none → round 1. Hand-computed, engine-independent.
    clique = [(x, y) for x in "abcd" for y in "abcd" if x < y]
    e = spark.createDataFrame(clique + [("d", "e")], "a string, b string")
    got = {(r["a"], r["b"]): r["peel_round"] for r in truss_peel(e, k=4).collect()}
    assert got == {**{p: 0 for p in clique}, ("d", "e"): 1}


def test_truss_peel_cascade_two_rounds(spark):
    from gravitydb_spark.operators.iterative import truss_peel

    # diamond (two triangles sharing edge b–c) under k=4: round 1 removes
    # the four rim edges (support 1 < 2); round 2 removes b–c, whose
    # support fell 2 → 0. Exercises the cascade path — at k=3 no cascade
    # is possible (support-0 edges sit in no triangle, so their removal
    # never lowers another edge's support).
    diamond = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")]
    e = spark.createDataFrame(diamond, "a string, b string")
    got = {(r["a"], r["b"]): r["peel_round"] for r in truss_peel(e, k=4).collect()}
    assert got == {
        ("a", "b"): 1,
        ("a", "c"): 1,
        ("b", "d"): 1,
        ("c", "d"): 1,
        ("b", "c"): 2,
    }


def test_triangle_and_truss_leave_no_cache_entry(spark):
    """Neither kernel leaves a cached frame behind: triangle_counts cuts
    its orientation with a lazy localCheckpoint, truss_peel releases its
    per-round cache."""
    from gravitydb_spark.operators.iterative import triangle_counts, truss_peel

    cm = spark._jsparkSession.sharedState().cacheManager()
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    before = cm.numCachedEntries()
    got = {r["id"]: r["triangles"] for r in triangle_counts(e, n_edges=4).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}
    assert cm.numCachedEntries() == before
    pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    assert len(truss_peel(pairs, k=3, n_edges=4).collect()) == 4
    assert cm.numCachedEntries() == before


def test_truss_peel_unconverged_raises(spark):
    import pytest as _pytest

    from gravitydb_spark.operators.iterative import truss_peel

    diamond = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")]
    e = spark.createDataFrame(diamond, "a string, b string")
    with _pytest.raises(RuntimeError, match="fixpoint"):
        truss_peel(e, k=4, max_rounds=1)


def test_weighted_pagerank_follows_weights(spark):
    # a -> b (w=9), a -> c (w=1): b must outrank c; all mass conserved
    # within integer-floor loss
    from gravitydb_spark.operators.iterative import pagerank_weighted_scaled

    verts = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    edges = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1)], "from_id string, to_id string, w long"
    )
    got = {
        r["id"]: r["rank_scaled"]
        for r in pagerank_weighted_scaled(verts, edges, iters=3).collect()
    }
    assert got["b"] > got["c"] > 0
    assert got["b"] > got["a"]

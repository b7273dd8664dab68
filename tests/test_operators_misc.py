"""Degrees, hulls, PandasFilter, multi-hop paths, save/load, JSON-payload
ingest, update-missing-node semantics."""

import json

import pytest

from pyspark.sql import functions as F

from gravitydb_spark import GraphBatchBuilder, Prop, PropertyGraph, execute
from gravitydb_spark.hashing import canonical_json, prop_hash
from gravitydb_spark.operators import degrees, inner_hull, outer_hull
from gravitydb_spark.ql import PandasFilter, eq_all, pq_from_id, vq_all, vq_from_ids
from gravitydb_spark.schema import Schema
from gravitydb_spark.sources import ingest_graph

RAW = Schema(no_tag=frozenset({"T"}))


def _chain(spark, n=4):
    """v0 -> v1 -> v2 -> v3 chain."""
    b = GraphBatchBuilder(RAW)
    ids = [
        b.add_node(Prop("T", f"v{i}"), id=f"00000000-0000-0000-0000-0000000000{i:02d}")
        for i in range(n)
    ]
    for i in range(n - 1):
        b.add_edge(ids[i], ids[i + 1], Prop("T", f"e{i}"))
    return b.build(spark), ids


def test_degrees(spark):
    g, ids = _chain(spark)
    got = {r["id"]: (r["out_degree"], r["in_degree"]) for r in degrees(g).collect()}
    assert got[ids[0]] == (1, 0)
    assert got[ids[1]] == (1, 1)
    assert got[ids[3]] == (0, 1)


def test_hulls(spark):
    g, ids = _chain(spark)
    members = spark.createDataFrame([(ids[0],), (ids[1],), (ids[2],)], "id string")
    hull = outer_hull(g, members)
    assert {(r["src"], r["dst"]) for r in hull.collect()} == {
        (ids[0], ids[1]),
        (ids[1], ids[2]),
    }
    all_edges = execute(g, eq_all()).edges
    inner = inner_hull(g, all_edges, members)
    assert inner.count() == 2  # the v2->v3 edge leaves the set


def test_pandas_filter(spark):
    g, ids = _chain(spark)

    def is_even(value, schema_type):
        # value is the JSON payload, e.g. '"v2"'
        return value.str.contains('[02]"$', regex=True)

    res = execute(g, vq_all().filter(PandasFilter(is_even, "even")))
    got = sorted(r["id"] for r in res.vertices.collect())
    assert got == sorted([ids[0], ids[2]])


def test_two_hop_path_properties(spark):
    """Multi-hop path ordering: [v0, e0, v1, e1, v2] (sane semantics for
    the cases the reference never tested beyond 1 hop)."""
    g, ids = _chain(spark)
    q = vq_from_ids([ids[0]]).outgoing().outgoing().outgoing().outgoing()
    res = execute(g, q)
    rows = res.extract_path_properties().collect()
    assert len(rows) == 1
    props = [json.loads(p) for p in rows[0]["props"]]
    assert props == [
        {"T": "v0"},
        {"T": "e0"},
        {"T": "v1"},
        {"T": "e1"},
        {"T": "v2"},
    ]


def test_save_load_roundtrip(spark, tmp_path):
    g, ids = _chain(spark)
    path = str(tmp_path / "chain")
    g.save(path)
    g2 = PropertyGraph.load(spark, path, RAW)
    res = execute(g2, vq_from_ids([ids[0]]).outgoing().outgoing())
    assert [r["id"] for r in res.vertices.collect()] == [ids[1]]
    for t in ("vertices", "edges", "properties", "prop_refs"):
        assert getattr(g, t).count() == getattr(g2, t).count()


def test_ingest_json_payloads(spark):
    """payload_is_json: structured payloads hash identically to the Python
    path's canonical encoding."""
    payload = {"name": "Berlin", "pop": 3600000}
    vertices = spark.createDataFrame(
        [("v1", "City", canonical_json(payload)), ("v2", "Unit", "null")],
        "id string, schema_type string, payload string",
    )
    g = ingest_graph(spark, vertices, payload_is_json=True)
    hashes = {r["prop_hash"] for r in g.vertices.collect()}
    assert prop_hash("City", payload) in hashes
    assert prop_hash("Unit") in hashes  # 'null' payload -> unit variant


def test_update_missing_node_errors(spark):
    g, ids = _chain(spark)
    with pytest.raises(KeyError):
        g.update_nodes([("ffffffff-0000-0000-0000-000000000000", Prop("T", "x"))])


def test_histogram_quantile_within_one_bin_of_exact(spark, sf_dir):
    """The sketch's quantile estimate (upper bin edge) must bracket the
    exact quantile: exact <= est <= exact + bin width."""
    import duckdb

    from gravitydb_spark.registry import queries

    got = {
        r["q"]: r["est"]
        for r in queries()["sketch_histogram_quantiles"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    mn, mx = con.sql(
        f"SELECT min(n_chars), max(n_chars) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    width = (mx - mn + 1) / 64.0
    for q, est in got.items():
        exact = con.sql(
            f"SELECT quantile_disc(n_chars, {q}) FROM '{sf_dir}/documents.parquet'"
        ).fetchone()[0]
        assert exact <= est <= exact + width + 0.01, (q, exact, est, width)


def test_countmin_estimate_never_undercounts(spark, sf_dir):
    from gravitydb_spark.registry import queries

    rows = queries()["sketch_countmin_heavyhitters"](spark, sf_dir).collect()
    assert len(rows) == 30
    for r in rows:
        assert r["cm_estimate"] >= r["n_exact"], r


def test_clear_memo_cache_unpersists_and_rebuilds(spark, sf_dir, monkeypatch):
    """clear_memo_cache drops every module's per-session cache entries
    (r4 ADVICE: unbounded growth across sf_dirs), unpersists every frame
    they cached, and queries rebuild transparently afterwards."""
    from pyspark import StorageLevel

    import gravitydb_spark.graph_queries as gq
    import gravitydb_spark.pipeline_queries as pq
    import gravitydb_spark.relational_queries as rq
    from gravitydb_spark.registry import queries
    from gravitydb_spark.relational_queries import (
        _plan_cache,
        clear_memo_cache,
    )

    qs = queries()
    n1 = qs["corpus_vocab_topk"](spark, sf_dir).count()
    qs["dedup_minhash_lsh"](spark, sf_dir).count()
    # record every frame dedup_minhash_cluster caches, memoized or not
    frame_cls = type(spark.range(1))
    cache, made = frame_cls.cache, []
    monkeypatch.setattr(frame_cls, "cache", lambda df: made.append(df) or cache(df))
    qs["dedup_minhash_cluster"](spark, sf_dir).count()
    monkeypatch.undo()
    assert made
    assert _plan_cache  # something got memoized
    removed = clear_memo_cache(spark)
    assert removed >= 1
    sk = spark.sparkContext.applicationId
    for mod in (gq, pq, rq):
        for name, memo in vars(mod).items():
            if isinstance(memo, dict):
                left = [k for k in memo if isinstance(k, tuple) and k[:1] == (sk,)]
                assert not left, (mod.__name__, name, left)
    assert [df.storageLevel for df in made] == [StorageLevel.NONE] * len(made)
    assert qs["corpus_vocab_topk"](spark, sf_dir).count() == n1


def test_hybrid_rrf_fuses_both_legs(spark, sf_dir):
    """search_hybrid_rrf: every fused score is exactly the sum of the
    reciprocal-rank contributions of the legs that retrieved the doc,
    and the top of the list prefers docs found by BOTH legs over
    single-leg docs with comparable ranks."""
    from gravitydb_spark.pipeline_queries import _RRF_K
    from gravitydb_spark.registry import queries

    rows = queries()["search_hybrid_rrf"](spark, sf_dir).collect()
    assert rows and len(rows) <= 20
    single = [r for r in rows if r.lex_rnk is None or r.vec_rnk is None]
    assert single, "expected some single-leg docs in the fused list"
    for r in rows:
        expect = 0.0
        if r.lex_rnk is not None:
            expect += 1.0 / (_RRF_K + r.lex_rnk)
        if r.vec_rnk is not None:
            expect += 1.0 / (_RRF_K + r.vec_rnk)
        assert abs(r.rrf - expect) < 1e-6, r
    # the list is ordered by fused score, tie-broken by doc_id
    for a, b in zip(rows, rows[1:]):
        assert (a.rrf, -a.doc_id) >= (b.rrf, -b.doc_id), (a, b)
    # both legs contribute to the fused list (overlap itself is
    # data-dependent and may be empty on the tiny sf)
    assert any(r.lex_rnk is not None for r in rows)
    assert any(r.vec_rnk is not None for r in rows)

"""Round-2 surface tests: new CLI verbs (property-blob / script /
result-data / doctor / create-node --update), the doctor integrity
operator, the documented 3-arg filter context, motif self-loop patterns,
namespaced GraphML, edge-hash escaping parity, and batch get-or-create
dedup."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gravitydb_spark import GraphBatchBuilder, Prop
from gravitydb_spark.graph import PropertyGraph
from gravitydb_spark.hashing import canonical_json, edge_hash, tagged_property
from gravitydb_spark.plans.compiler import execute
from gravitydb_spark.ql import ExprFilter, PandasFilter, pq_from_id

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _abc_graph(spark):
    """A --r1--> B --r2--> C (City nodes, Road edges)."""
    b = GraphBatchBuilder()
    a = b.add_node(Prop("City", "A"), id="a")
    bb = b.add_node(Prop("City", "B"), id="b")
    c = b.add_node(Prop("City", "C"), id="c")
    b.add_edge(a, bb, Prop("Road", "r1"))
    b.add_edge(bb, c, Prop("Road", "r2"))
    return b.build(spark)


class TestCliVerbs:
    """In-process CLI invocations (one shared JVM via get_spark reuse)."""

    def _run(self, capsys, *argv):
        from gravitydb_spark.cli import main

        rc = main(list(argv))
        out = capsys.readouterr().out
        return rc, out

    def test_new_verbs_round_trip(self, spark, tmp_path, capsys):
        db = str(tmp_path / "g")
        rc, _ = self._run(capsys, "init", "--db", db)
        assert rc == 0

        rc, out = self._run(
            capsys, "create-node", "--db", db, "--type", "City",
            "--value", "Berlin", "--id", "11111111-0000-0000-0000-000000000001",
        )
        assert rc == 0

        # property-blob: the canonical storage bytes (cli_helpers.rs:206-211)
        rc, out = self._run(
            capsys, "property-blob", "--type", "City", "--value", "Berlin"
        )
        assert rc == 0
        assert out == '{"City":"Berlin"}'
        rc, out = self._run(capsys, "property-blob", "--type", "Includes")
        assert out == '"Includes"'

        # create-node --update swaps the property in place
        rc, _ = self._run(
            capsys, "create-node", "--db", db, "--type", "City",
            "--value", "Potsdam", "--id", "11111111-0000-0000-0000-000000000001",
            "--update",
        )
        assert rc == 0
        ph = Prop("City", "Potsdam").hash
        rc, out = self._run(
            capsys, "query-db", "--db", db, "--input",
            _write(tmp_path, "q.json", json.dumps({"V": {"Property": {"Specific": ph}}})),
        )
        assert rc == 0
        assert json.loads(out)["vertices"] == ["11111111-0000-0000-0000-000000000001"]

        # --update without --id is the documented error
        rc, _ = self._run(
            capsys, "create-node", "--db", db, "--type", "City",
            "--value", "X", "--update",
        )
        assert rc == 1

        # script: run a Python file with db/execute/builders bound
        script = _write(
            tmp_path,
            "s.py",
            "res = execute(pq_from_id(Prop('City', 'Potsdam').hash)"
            ".referencing_vertices())\n"
            "print('SCRIPT_GOT', sorted(r['id'] for r in res.vertices.collect()))\n",
        )
        rc, out = self._run(capsys, "script", "--db", db, script)
        assert rc == 0
        assert "SCRIPT_GOT ['11111111-0000-0000-0000-000000000001']" in out

        # result-data: enrich an ids-only result with property payloads
        result = json.dumps(
            {"vertices": ["11111111-0000-0000-0000-000000000001"], "edges": []}
        )
        rc, out = self._run(
            capsys, "result-data", "--db", db, "--input",
            _write(tmp_path, "r.json", result),
        )
        assert rc == 0
        enriched = json.loads(out)
        assert enriched["vertices"][0]["value"] == "Potsdam"
        assert enriched["vertices"][0]["schema_type"] == "City"

        # doctor: healthy store
        rc, out = self._run(capsys, "doctor", "--db", db)
        assert rc == 0
        assert json.loads(out)["healthy"] is True


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


class TestDoctor:
    def test_detects_corruption(self, spark):
        g = _abc_graph(spark)
        # corrupt: drop vertex b but keep its edges and refs
        bad = PropertyGraph(
            spark,
            g.vertices.filter(F.col("id") != "b"),
            g.edges,
            g.properties,
            g.prop_refs,
            g.schema,
        )
        rep = bad.doctor()
        dangling = {r["edge_id"] for r in rep["dangling_edges"].collect()}
        assert len(dangling) == 2  # both edges touch b
        stale = rep["stale_refs"].collect()
        assert {(r["ref_kind"], r["ref_id"]) for r in stale} == {("node", "b")}

        # corrupt: orphaned property (no refs at all)
        b2 = GraphBatchBuilder()
        b2.add_node(Prop("City", "Zz"))
        p2 = b2.build(spark).properties
        bad2 = PropertyGraph(
            spark, g.vertices, g.edges,
            g.properties.unionByName(p2).dropDuplicates(["prop_hash"]),
            g.prop_refs, g.schema,
        )
        orphans = {
            r["prop_hash"] for r in bad2.doctor()["orphaned_properties"].collect()
        }
        assert Prop("City", "Zz").hash in orphans

        # healthy graph: every check empty
        for name, df in g.doctor().items():
            assert df.isEmpty(), name


class TestFilterContext:
    def test_expr_filter_ctx_path(self, spark):
        g = _abc_graph(spark)
        # vertices reached from A, 2 hops out, whose path went through b
        q = (
            pq_from_id(Prop("City", "A").hash)
            .referencing_vertices()
            .outgoing()
            .outgoing()
            .outgoing()
            .outgoing()
            .filter(
                ExprFilter(
                    lambda value, schema_type, ctx: F.exists(
                        ctx.path, lambda hop: hop["v"] == "b"
                    ),
                    name="through_b",
                )
            )
        )
        res = execute(g, q)
        assert sorted(r["id"] for r in res.vertices.collect()) == ["c"]

    def test_expr_filter_ctx_id_and_start(self, spark):
        g = _abc_graph(spark)
        q = (
            pq_from_id(Prop("City", "A").hash)
            .referencing_vertices()
            .outgoing()
            .outgoing()
            .filter(
                ExprFilter(
                    lambda value, schema_type, ctx: (ctx.id == "b")
                    & ctx.start.isNull(),
                    name="id_is_b",
                )
            )
        )
        res = execute(g, q)
        assert sorted(r["id"] for r in res.vertices.collect()) == ["b"]

    def test_pandas_filter_ctx(self, spark):
        g = _abc_graph(spark)

        def fn(value, schema_type, ctx):
            # path is a Series whose elements are arrays of (v, e) structs
            return ctx.path.map(
                lambda p: p is not None and any(h["v"] == "b" for h in list(p))
            )

        q = (
            pq_from_id(Prop("City", "A").hash)
            .referencing_vertices()
            .outgoing()
            .outgoing()
            .outgoing()
            .outgoing()
            .filter(PandasFilter(fn, name="through_b_pandas"))
        )
        res = execute(g, q)
        assert sorted(r["id"] for r in res.vertices.collect()) == ["c"]

    def test_two_arg_filters_still_work(self, spark):
        g = _abc_graph(spark)
        q = (
            pq_from_id(Prop("City", "A").hash)
            .referencing_vertices()
            .outgoing()
            .outgoing()
            .filter(
                ExprFilter(lambda value, schema_type: value == '"B"')
            )
        )
        res = execute(g, q)
        assert sorted(r["id"] for r in res.vertices.collect()) == ["b"]


class TestAdviceFixes:
    def test_motif_self_loop(self, spark):
        from gravitydb_spark.operators.motif import match_pattern

        b = GraphBatchBuilder()
        x = b.add_node(Prop("City", "X"), id="x")
        y = b.add_node(Prop("City", "Y"), id="y")
        b.add_edge(x, x, Prop("Road", "loop"))
        b.add_edge(x, y, Prop("Road", "xy"))
        g = b.build(spark)
        rows = match_pattern(g, [("a", "_e", "a")]).collect()
        assert [r["a"] for r in rows] == ["x"]

    def test_graphml_namespaced(self, spark):
        from gravitydb_spark.sources.graphml import import_graphml

        xml = (
            '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'
            '<graph id="G" edgedefault="directed">'
            '<node id="n0"><data key="city">Berlin</data></node>'
            '<node id="n1"><data key="city">Paris</data></node>'
            '<edge source="n0" target="n1"><data key="road">A1</data></edge>'
            "</graph></graphml>"
        )
        g, mapping = import_graphml(spark, xml)
        assert g.vertices.count() == 2
        assert g.edges.count() == 1

    def test_edge_hash_jvm_python_parity_with_escaping(self, spark):
        from gravitydb_spark.sources.ingest import ingest_graph

        tricky = 'id"with\\quotes'
        v = spark.createDataFrame(
            [(tricky, "City", "A"), ("plain", "City", "B")],
            "id string, schema_type string, payload string",
        )
        e = spark.createDataFrame(
            [(tricky, "plain", "Road", None)],
            "src string, dst string, schema_type string, payload string",
        )
        g = ingest_graph(spark, v, e)
        [row] = g.edges.collect()
        expected = edge_hash(tricky, "plain", Prop("Road").hash)
        assert row["edge_id"] == expected
        # and the canonical JSON itself round-trips through Python's encoder
        assert json.loads(
            canonical_json({"n1": tricky, "n2": "plain", "properties": "x"})
        )["n1"] == tricky

    def test_embedding_cosine_plan_is_equi_join(self, spark, sf_dir):
        """The LSH-bucket candidate join must be a hash/merge equi-join on
        bucket — never a BroadcastNestedLoopJoin over all pairs."""
        from gravitydb_spark.registry import queries

        df = queries()["dedup_embedding_cosine"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_get_or_create_batch_dedupes_misses(self, spark):
        g = PropertyGraph.empty(spark)
        g2, ids = g.get_or_create_nodes(
            [(None, Prop("City", "Dup")), (None, Prop("City", "Dup")),
             (None, Prop("City", "Other"))]
        )
        assert ids[0] == ids[1] != ids[2]
        assert g2.vertices.count() == 2


class TestReviewFixes:
    """Regressions for the round-2 code-review findings."""

    def test_graphml_namespaced_strips_prop_types(self, spark):
        """A namespaced document must produce the same property type tags
        (and therefore content hashes) as the identical bare document."""
        from gravitydb_spark.sources.graphml import import_graphml

        body = (
            '<graph id="G" edgedefault="directed">'
            '<node id="n0"><City>Berlin</City></node>'
            '<node id="n1"><City>Paris</City></node>'
            '<edge source="n0" target="n1"><Road>A1</Road></edge>'
            "</graph>"
        )
        bare = f"<graphml>{body}</graphml>"
        namespaced = (
            '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'
            + body
            + "</graphml>"
        )
        g1, _ = import_graphml(spark, bare)
        g2, _ = import_graphml(spark, namespaced)
        types1 = sorted(r["schema_type"] for r in g1.properties.collect())
        types2 = sorted(r["schema_type"] for r in g2.properties.collect())
        assert types1 == types2
        assert not any("{" in t for t in types2)
        hashes1 = sorted(r["prop_hash"] for r in g1.properties.collect())
        hashes2 = sorted(r["prop_hash"] for r in g2.properties.collect())
        assert hashes1 == hashes2

    def test_filter_with_defaulted_param_is_not_ctx(self, spark):
        """A 2-arg filter with a defaulted option must NOT receive the
        FilterContext as its option."""
        g = _abc_graph(spark)
        seen_strict = []

        def fn(value, schema_type, strict=False):
            seen_strict.append(strict)
            return value == '"B"'

        q = (
            pq_from_id(Prop("City", "A").hash)
            .referencing_vertices()
            .outgoing()
            .outgoing()
            .filter(ExprFilter(fn))
        )
        res = execute(g, q)
        assert sorted(r["id"] for r in res.vertices.collect()) == ["b"]
        assert seen_strict == [False]

    def test_filter_varargs_is_not_ctx(self, spark):
        g = _abc_graph(spark)
        q = (
            pq_from_id(Prop("City", "A").hash)
            .referencing_vertices()
            .outgoing()
            .outgoing()
            .filter(ExprFilter(lambda value, schema_type, *extra: value == '"B"'))
        )
        res = execute(g, q)
        assert sorted(r["id"] for r in res.vertices.collect()) == ["b"]

    def test_bfs_raises_when_reachable_beyond_max_depth(self, spark):
        from gravitydb_spark.operators.iterative import bfs_distances

        b = GraphBatchBuilder()
        prev = b.add_node(Prop("City", "v0"), id="v0")
        for i in range(1, 4):  # path v0 -> v1 -> v2 -> v3
            cur = b.add_node(Prop("City", f"v{i}"), id=f"v{i}")
            b.add_edge(prev, cur, Prop("Road", f"r{i}"))
            prev = cur
        g = b.build(spark)
        sources = spark.createDataFrame([("v0",)], "id string")

        with pytest.raises(RuntimeError, match="max_depth"):
            bfs_distances(g, sources, max_depth=2)

        # exact-depth completion must NOT raise (deepest level == max_depth)
        dists = {
            r["id"]: r["dist"]
            for r in bfs_distances(g, sources, max_depth=3).collect()
        }
        assert dists == {"v0": 0, "v1": 1, "v2": 2, "v3": 3}

    def test_cli_update_errors_cleanly(self, spark, tmp_path, capsys):
        from gravitydb_spark.cli import main

        db = str(tmp_path / "g")
        assert main(["init", "--db", db]) == 0
        capsys.readouterr()

        # nonexistent id: clean rc=1 + stderr message, not a KeyError traceback
        rc = main(
            ["create-node", "--db", db, "--id", "no-such-id",
             "--type", "City", "--value", "X", "--update"]
        )
        err = capsys.readouterr().err
        assert rc == 1
        assert "does not exist" in err

        # --update + --get-or-create is contradictory
        rc = main(
            ["create-node", "--db", db, "--id", "no-such-id",
             "--type", "City", "--value", "X", "--update", "--get-or-create"]
        )
        err = capsys.readouterr().err
        assert rc == 1
        assert "not both" in err


def test_cli_explain_verb(tmp_path):
    import subprocess
    import sys as _sys

    r = subprocess.run(
        [_sys.executable, "-m", "gravitydb_spark.cli", "explain",
         "--query", "q1_pricing_summary"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "Physical Plan" in r.stdout and "PushedFilters" in r.stdout
    bad = subprocess.run(
        [_sys.executable, "-m", "gravitydb_spark.cli", "explain",
         "--query", "no_such_query"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert bad.returncode == 1


def test_cli_sql_verb(tmp_path):
    import json as _json
    import subprocess
    import sys as _sys

    r = subprocess.run(
        [_sys.executable, "-m", "gravitydb_spark.cli", "sql",
         "SELECT r_name, count(*) AS n FROM region JOIN nation"
         " ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name",
         "--limit", "10"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = [_json.loads(l) for l in r.stdout.strip().splitlines() if l.startswith("{")]
    assert len(rows) == 5 and rows[0]["r_name"] == "AFRICA" and rows[0]["n"] == 5
    # events goes through load_events: ts must be the BIGINT-nanos contract
    r2 = subprocess.run(
        [_sys.executable, "-m", "gravitydb_spark.cli", "sql",
         "SELECT min(ts) AS t0 FROM events"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    t0 = _json.loads(r2.stdout.strip().splitlines()[-1])["t0"]
    assert isinstance(t0, int) and t0 > 10**18  # epoch-nanos magnitude


class TestRunQueryVerb:
    def test_run_query_prints_json_rows(self, spark, capsys):
        import json

        from gravitydb_spark.cli import main

        rc = main([
            "run-query", "--query", "pack_length_buckets",
            "--sf-dir", "/root/testdata/sf0.001", "--limit", "3",
        ])
        out = capsys.readouterr().out
        assert rc == 0
        rows = [json.loads(ln) for ln in out.strip().splitlines()]
        assert 0 < len(rows) <= 3
        assert {"bucket", "bucket_len", "n_docs"} <= set(rows[0])

    def test_run_query_unknown_name_errors(self, spark, capsys):
        from gravitydb_spark.cli import main

        rc = main(["run-query", "--query", "no_such_query"])
        assert rc == 1

"""Schema constraints (§2.11), CLI EP2 wire compat, streaming changefeed."""

import json
import os
import subprocess
import sys

import pytest

from gravitydb_spark import Prop, PropertyGraph, execute
from gravitydb_spark.constraints import (
    ConstraintViolation,
    Prohibited,
    Required,
    check_constraints,
)
from gravitydb_spark.ql import (
    pq_from_id,
    query_from_json,
    query_to_json,
    vq_from_ids,
    BasicQuery,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _start(prop):
    return pq_from_id(prop.hash)


class TestConstraints:
    def test_workshop_constraints(self, spark):
        """FIXTURES.md §5: nothing may BelongTo a Tool; passes on the
        workshop mini-dataset, fails once violated."""
        from gravitydb_spark import GraphBatchBuilder

        b = GraphBatchBuilder()
        nick = b.add_node(Prop("Person", "Nick"))
        shop = b.add_node(Prop("Workshop", "Nick's Workspace"))
        saw = b.add_node(Prop("Tool", "Table Saw"))
        miter = b.add_node(Prop("Tool", "Miter Saw"))
        b.add_edge(shop, nick, Prop("BelongsTo"))
        b.add_edge(saw, shop, Prop("BelongsTo"))
        b.add_edge(miter, shop, Prop("BelongsTo"))
        g = b.build(spark)

        tool_tag = _start(Prop("SchemaType", "Tool"))
        belongs = _start(Prop("BelongsTo"))
        # edges arriving at Tool vertices that are BelongsTo-labeled
        nothing_belongs_to_tool = Prohibited(
            tool_tag.referencing_properties()
            .referencing_vertices()
            .ingoing(belongs),
            name="nothing-belongs-to-a-tool",
        )
        has_workshop = Required(
            _start(Prop("SchemaType", "Workshop"))
            .referencing_properties()
            .referencing_vertices(),
            name="has-workshop",
        )
        check_constraints(g, [nothing_belongs_to_tool, has_workshop])

        # violate it: a tool owning a workshop's edge -> shop BelongsTo saw
        g2, _ = g.create_edges([(shop, saw, Prop("BelongsTo"))])
        with pytest.raises(ConstraintViolation):
            check_constraints(g2, [nothing_belongs_to_tool])

    def test_workshop_golden_query(self, spark):
        """FIXTURES.md §5 golden: workshops reachable from Tool('Table Saw')
        via referencing_vertices().outgoing() ∩ BelongsTo .outgoing()."""
        from gravitydb_spark import GraphBatchBuilder

        b = GraphBatchBuilder()
        nick = b.add_node(Prop("Person", "Nick"))
        shop = b.add_node(Prop("Workshop", "Nick's Workspace"))
        saw = b.add_node(Prop("Tool", "Table Saw"))
        b.add_edge(shop, nick, Prop("BelongsTo"))
        b.add_edge(saw, shop, Prop("BelongsTo"))
        g = b.build(spark)

        q = (
            _start(Prop("Tool", "Table Saw"))
            .referencing_vertices()
            .outgoing(_start(Prop("BelongsTo")))
            .outgoing()
        )
        res = execute(g, q)
        got = [json.loads(r["tagged"]) for r in res.extract_properties().collect()]
        assert got == [{"Workshop": "Nick's Workspace"}]


class TestWireFormat:
    def test_round_trip(self):
        q = (
            pq_from_id("abc")
            .referencing_vertices()
            .ingoing()
            .intersect(pq_from_id("def").referencing_edges())
            .ingoing()
        )
        bq = BasicQuery.of(q)
        encoded = query_to_json(bq)
        assert query_from_json(encoded) == bq
        # the serde shape of the reference: externally tagged enums
        assert encoded == {
            "V": {
                "In": {
                    "Intersect": [
                        {"In": {"Property": {"Specific": "abc"}}},
                        {"Property": {"Specific": "def"}},
                    ]
                }
            }
        }

    def test_specific_and_fromto(self):
        for data in [
            {"V": {"Specific": ["a", "b"]}},
            {"E": "All"},
            {"P": {"FromTo": ["0", "f"]}},
            {"V": {"Store": {"Specific": ["a"]}}},
            {
                "E": {
                    "Filter": [
                        "All",
                        {"interpreter": "/bin/sh", "script": "exit 0"},
                    ]
                }
            },
        ]:
            assert query_to_json(query_from_json(data)) == data


class TestCli:
    def test_cli_crud_and_query(self, tmp_path):
        db = str(tmp_path / "g")

        def run(*args, stdin=None):
            r = subprocess.run(
                [sys.executable, "-m", "gravitydb_spark.cli", *args],
                capture_output=True,
                text=True,
                input=stdin,
                cwd=REPO,
                timeout=300,
            )
            assert r.returncode == 0, r.stderr[-2000:]
            return r.stdout

        run("init", "--db", db)
        nid = run(
            "create-node", "--db", db, "--type", "City", "--value", "Berlin",
            "--id", "11111111-0000-0000-0000-000000000001",
        ).strip()
        assert nid == "11111111-0000-0000-0000-000000000001"
        ph = run("property-id", "--type", "City", "--value", "Berlin").strip()
        assert ph == Prop("City", "Berlin").hash

        query = {"V": {"Property": {"Specific": ph}}}
        out = json.loads(run("query-db", "--db", db, stdin=json.dumps(query)))
        assert out["vertices"] == [nid]

        info = json.loads(run("db-info", "--db", db))
        assert info["nodes"] == 1


class TestChangefeed:
    def test_stream_type_counts(self, spark, tmp_path):
        from gravitydb_spark import GraphBatchBuilder
        from gravitydb_spark.streaming import stream_type_counts, stream_vertices

        b = GraphBatchBuilder()
        for i in range(3):
            b.add_node(Prop("Cocktail", f"c{i}"))
        for i in range(2):
            b.add_node(Prop("Ingredient", f"i{i}"))
        g = b.build(spark)
        path = str(tmp_path / "graph")
        g.save(path)

        feed = stream_vertices(spark, path)
        counts = stream_type_counts(feed, g.properties)
        q = (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName("type_counts")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["schema_type"]: r["n"]
            for r in spark.sql("select * from type_counts").collect()
        }
        assert got == {"Cocktail": 3, "Ingredient": 2}

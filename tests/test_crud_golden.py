"""Golden storage-layout CRUD tests (FIXTURES.md §3, mirroring
crates/gravitydb/tests/test_kv_store.rs as rows of the four tables).

The reference asserts exact KV files; we assert exact table rows including
the completeness check (removing every expected row leaves the tables
empty). Hashes are our canonical-JSON hashes, not the Rust byte-encodings
(SURVEY.md §7 hard-part 1: internal determinism, not byte compat).
"""

import pytest

from gravitydb_spark import GraphBatchBuilder, NodeExistsError, Prop, PropertyGraph
from gravitydb_spark.hashing import edge_hash, prop_hash
from gravitydb_spark.schema import Schema

NODE1 = "a1a2a3a4-b1b2-c1c2-d1d2-d3d4d5d6d7d8"
NODE2 = "e1e2e3e4-f1f2-a1a2-b1b2-b3b4b5b6b7b8"

# raw schema without type tags, like the reference's GenericProperty tests
RAW = Schema(no_tag=frozenset({"Text"}))
TEXT_PROP = Prop("Text", "simple text property")


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_create_node_exact_rows(spark):
    g, _ = PropertyGraph.empty(spark, RAW).create_nodes([(NODE1, TEXT_PROP)])
    h = prop_hash("Text", "simple text property")
    assert rows(g.vertices) == [(NODE1, h)]
    assert rows(g.properties) == [
        (h, "Text", '"simple text property"', '{"Text":"simple text property"}')
    ]
    assert rows(g.prop_refs) == [(h, "node", NODE1)]
    assert g.edges.count() == 0


def test_create_node_twice_errors(spark):
    g, _ = PropertyGraph.empty(spark, RAW).create_nodes([(NODE1, TEXT_PROP)])
    with pytest.raises(NodeExistsError):
        g.create_nodes([(NODE1, TEXT_PROP)])
    with pytest.raises(NodeExistsError):
        g.create_nodes([(NODE1, Prop("Text", "changed content"))])
    # an id repeated within one batch, as two sequential create_node calls
    with pytest.raises(NodeExistsError):
        g.create_nodes([(NODE2, TEXT_PROP), (NODE2, Prop("Text", "other"))])
    b = GraphBatchBuilder(RAW)
    b.add_node(TEXT_PROP, id=NODE2)
    with pytest.raises(NodeExistsError):
        b.add_node(Prop("Text", "other"), id=NODE2)


def test_self_loop_edge_adjacency(spark):
    g, _ = PropertyGraph.empty(spark, RAW).create_nodes([(NODE1, TEXT_PROP)])
    g, eids = g.create_edges([(NODE1, NODE1, Prop("Text", "loop"))])
    adj = g.node_adjacency([NODE1]).collect()
    directions = sorted((r["edge_id"], r["direction"]) for r in adj)
    assert directions == sorted(
        [(eids[0], "outgoing"), (eids[0], "incoming")]
    )


def test_two_nodes_edge_completeness(spark):
    g = PropertyGraph.empty(spark, RAW)
    g, _ = g.create_nodes([(NODE1, TEXT_PROP), (NODE2, Prop("Text", "other"))])
    g, eids = g.create_edges([(NODE1, NODE2, Prop("Text", "conn"))])

    h1 = prop_hash("Text", "simple text property")
    h2 = prop_hash("Text", "other")
    he = prop_hash("Text", "conn")
    eid = edge_hash(NODE1, NODE2, he)
    assert eids == [eid]

    assert rows(g.vertices) == sorted([(NODE1, h1), (NODE2, h2)])
    assert rows(g.edges) == [(eid, NODE1, NODE2, he)]
    assert rows(g.prop_refs) == sorted(
        [(h1, "node", NODE1), (h2, "node", NODE2), (he, "edge", eid)]
    )
    # completeness: delete everything -> all tables empty (incl. GC'd props)
    g = g.delete_edges([eid]).delete_nodes([NODE1, NODE2]).gc()
    assert g.vertices.count() == 0
    assert g.edges.count() == 0
    assert g.prop_refs.count() == 0
    assert g.properties.count() == 0


def test_duplicate_edge_collapses(spark):
    """Royal fizz / Silver fizz behavior: same (src, dst, props) edge created
    twice collapses to one content-addressed edge (kv_graph_store.rs:832-835)."""
    g = PropertyGraph.empty(spark, RAW)
    g, _ = g.create_nodes([(NODE1, TEXT_PROP), (NODE2, Prop("Text", "other"))])
    g, eids = g.create_edges(
        [(NODE1, NODE2, Prop("Text", "conn")), (NODE1, NODE2, Prop("Text", "conn"))]
    )
    assert eids[0] == eids[1]
    assert g.edges.count() == 1


def test_property_dedup_shared_hash(spark):
    """Three nodes sharing identical property content -> ONE properties row,
    three backlinks (docs/key_value_store.adoc:59-75)."""
    g = PropertyGraph.empty(spark, RAW)
    ids = ["11111111-0000-0000-0000-00000000000%d" % i for i in range(3)]
    g, _ = g.create_nodes([(i, Prop("Text", "shared")) for i in ids])
    assert g.properties.count() == 1
    assert g.prop_refs.count() == 3


def test_update_node_swaps_and_gc(spark):
    g, _ = PropertyGraph.empty(spark, RAW).create_nodes([(NODE1, TEXT_PROP)])
    g = g.update_nodes([(NODE1, Prop("Text", "v2"))]).gc()
    h2 = prop_hash("Text", "v2")
    assert rows(g.vertices) == [(NODE1, h2)]
    assert rows(g.prop_refs) == [(h2, "node", NODE1)]
    assert g.properties.count() == 1


def test_delete_node_cascades_edges(spark):
    """Documented cascade (docs/key_value_store.adoc:543-544) — divergence
    from the reference code, which leaves dangling edges."""
    g = PropertyGraph.empty(spark, RAW)
    g, _ = g.create_nodes([(NODE1, TEXT_PROP), (NODE2, Prop("Text", "other"))])
    g, _ = g.create_edges([(NODE1, NODE2, Prop("Text", "conn"))])
    g = g.delete_nodes([NODE1]).gc()
    assert g.edges.count() == 0  # cascaded
    assert g.vertices.count() == 1
    # reference behavior available explicitly
    g2 = PropertyGraph.empty(spark, RAW)
    g2, _ = g2.create_nodes([(NODE1, TEXT_PROP), (NODE2, Prop("Text", "other"))])
    g2, _ = g2.create_edges([(NODE1, NODE2, Prop("Text", "conn"))])
    g2 = g2.delete_nodes([NODE1], cascade=False)
    assert g2.edges.count() == 1  # dangling, like kv_graph_store.rs:584-602


def test_nested_type_tags_gc(spark):
    """With the default schema, a node property nests its SchemaType tag;
    deleting the last value-property GCs the tag too (recursive refcount,
    kv_graph_store.rs:736-752)."""
    g, _ = PropertyGraph.empty(spark).create_nodes([(NODE1, Prop("Cocktail", "X"))])
    assert g.properties.count() == 2  # value + SchemaType tag
    g = g.delete_nodes([NODE1]).gc()
    assert g.properties.count() == 0
    assert g.prop_refs.count() == 0

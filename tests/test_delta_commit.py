"""Delta commits (graph.GraphDelta + TransactionalStore._write_delta): a
graph is its origin plus what it changed since, its tables are derived
from the two (graph._derive), a commit writes only that change
copy-on-write (hard links for untouched parent files), and ``diff`` of a
parent and its child reads the commit's record. The full rewrite
(``graph.save``) and ``changeset.graph_diff`` are the oracles."""

import hashlib
import json
import os
import uuid

import pyarrow.parquet as papq
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from gravitydb_spark import GraphBatchBuilder, Prop
from gravitydb_spark.changeset import graph_diff
from gravitydb_spark.constraints import ConstraintViolation, Prohibited
from gravitydb_spark.graph import SCHEMAS, PropertyGraph
from gravitydb_spark.ql import pq_from_id
from gravitydb_spark.transaction import TransactionalStore

TABLES = ("vertices", "edges", "properties", "prop_refs")


def _base(spark):
    b = GraphBatchBuilder()
    for i in range(6):
        b.add_node(Prop("City", f"c{i}"), id=f"v{i}")
    for i in range(5):
        b.add_edge(f"v{i}", f"v{i + 1}", Prop("road", {"n": i}))
    b.add_edge("v0", "v5", Prop("ferry"))
    return b.build(spark)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _state(g):
    return {t: _rows(getattr(g, t)) for t in TABLES}


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"delta-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _digest(root):
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for fn in sorted(files):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _transactions():
    """(name, mutation) pairs, each applied to the store's current graph."""

    def create(g):
        g, _ = g.create_nodes([("n1", Prop("Person", {"name": "ann"}))])
        # one new edge and one the store already holds
        g, _ = g.create_edges([("n1", "v0", Prop("knows")), ("v0", "v1", Prop("road", {"n": 0}))])
        return g

    def update(g):
        edge = sorted(r["edge_id"] for r in g.edges.collect())[0]
        return g.update_nodes([("v2", Prop("City", "renamed")), ("v4", Prop("City", "c4"))]).delete_edges([edge])

    def upsert(g):
        g, ids = g.get_or_create_nodes([("x1", Prop("City", "c1")), ("k1", Prop("Company", "acme"))])
        assert ids == ["v1", "k1"]
        g, _ = g.create_edges([("k1", "v1", Prop("located", {"floor": 3}))])
        return g

    def delete(g):
        # cascades v3's edges; then an edge to a deleted vertex is re-added
        g = g.delete_nodes(["v3"])
        g, _ = g.create_edges([("v2", "v3", Prop("road", {"n": 2}))])
        return g

    return [("create", create), ("update", update), ("upsert", upsert),
            ("delete", delete), ("gc", lambda g: g.gc())]


def test_delta_diff_equals_graph_diff(spark, tmp_path):
    store = TransactionalStore(str(tmp_path / "db"))
    store.init(_base(spark))
    for name, mutate in _transactions():
        g = mutate(store.load(spark))
        n_jobs, snap = _jobs(spark, lambda: store.commit(g))
        assert n_jobs == 0, (name, n_jobs)  # the rows need no Spark job
        parent = store.snapshots()[-2]
        with open(os.path.join(store.path, snap, "_delta", "delta.json")) as f:
            assert json.load(f)["parent"] == parent
        got = store.diff(spark, parent, snap)
        want = graph_diff(store.load_at(spark, parent), store.load_at(spark, snap))
        assert set(got) == set(want)
        assert got["depends_on"] == want["depends_on"], name
        for k in want:
            if k != "depends_on":
                assert got[k].columns == want[k].columns, (name, k)
                assert _rows(got[k]) == _rows(want[k]), (name, k)
        # and the committed snapshot holds what the lineage holds
        assert _state(store.load(spark)) == _state(g), name


def test_gc_commit_retracts_dead_properties(spark, tmp_path):
    store = TransactionalStore(str(tmp_path / "db"))
    store.init(_base(spark))
    store.commit(store.load(spark).update_nodes([("v0", Prop("City", "gone-soon"))]))
    store.commit(store.load(spark).update_nodes([("v0", Prop("City", "final"))]))
    g = store.load(spark).gc()
    assert g.delta.origin == os.path.realpath(store.current_path())
    dead = {Prop("City", "c0").hash, Prop("City", "gone-soon").hash}
    assert g.delta.retracted["properties"] == dead
    store.commit(g)
    hashes = {r["prop_hash"] for r in store.load(spark).properties.collect()}
    assert not hashes & dead
    assert Prop("City", "final").hash in hashes
    assert _state(store.load(spark)) == _state(g)


def test_failed_commit_after_linking_leaves_parent_identical(spark, tmp_path, monkeypatch):
    from gravitydb_spark import transaction

    store = TransactionalStore(str(tmp_path / "db"))
    store.init(_base(spark))
    parent = store.current_path()
    before = _digest(parent)
    seen = {}
    real_check = transaction.check_constraints

    def check(committed, constraints):
        # the new snapshot exists and shares files with its parent
        target = os.path.join(store.path, "snap-1")
        seen["linked"] = [
            f for f in os.listdir(os.path.join(target, "edges"))
            if os.stat(os.path.join(target, "edges", f)).st_nlink > 1
        ]
        return real_check(committed, constraints)

    monkeypatch.setattr(transaction, "check_constraints", check)
    bad = store.load(spark).create_nodes([("atl", Prop("City", "Atlantis"))])[0]
    rule = Prohibited(pq_from_id(Prop("City", "Atlantis").hash).referencing_vertices())
    with pytest.raises(ConstraintViolation):
        store.commit(bad, [rule])
    assert seen["linked"], "the commit failed before it linked a parent file"
    assert store.snapshots() == ["snap-0"]
    assert not os.path.exists(os.path.join(store.path, "snap-1"))
    assert _digest(parent) == before
    for f in os.listdir(os.path.join(parent, "edges")):
        assert os.stat(os.path.join(parent, "edges", f)).st_nlink == 1


def test_commit_from_an_older_snapshot_equals_the_full_rewrite(spark, tmp_path):
    store = TransactionalStore(str(tmp_path / "db"))
    x = store.init(_base(spark))
    store.commit(store.load(spark).delete_nodes(["v1"]))  # snap Y, the current one
    g = store.load_at(spark, x).update_nodes([("v2", Prop("City", "late"))]).delete_nodes(["v5"])
    g, _ = g.create_edges([("v1", "v2", Prop("road", {"n": 9}))])
    z = store.commit(g)
    full = TransactionalStore(str(tmp_path / "full"))
    full.init(g._with())  # unknown provenance: the frame writer
    assert not os.path.exists(os.path.join(full.current_path(), "_delta"))
    assert _state(store.load(spark)) == _state(full.load(spark)) == _state(g)
    # the record names the origin, so a diff against it reads the record
    with open(os.path.join(store.path, z, "_delta", "delta.json")) as f:
        assert json.load(f)["parent"] == x
    got = store.diff(spark, x, z)
    want = graph_diff(store.load_at(spark, x), store.load_at(spark, z))
    for k in ("created_nodes", "modified", "deleted_nodes", "created_edges", "deleted_edges"):
        assert _rows(got[k]) == _rows(want[k]), k


def test_deleted_parent_directories_leave_snapshots_whole(spark, tmp_path):
    store = TransactionalStore(str(tmp_path / "db"))
    g = _base(spark)
    models = {store.init(g): _state(g)}
    for i in range(4):
        g = store.load(spark)
        g, _ = g.create_nodes([(f"m{i}", Prop("City", f"m{i}"))])
        g = g.delete_edges([sorted(r["edge_id"] for r in g.edges.collect())[0]])
        models[store.commit(g)] = _state(g)
        store.gc_snapshots(keep=2, grace=False)
    kept = store.snapshots()
    assert len(kept) == 2
    assert sorted(d for d in os.listdir(store.path) if d.startswith("snap-")) == kept
    for name in kept:
        assert _state(store.load_at(spark, name)) == models[name], name


def test_a_touched_table_above_the_cap_takes_the_cluster_write(spark, tmp_path, monkeypatch):
    """A commit reads no parent table above the cap onto the driver: a
    small delta that touches one writes every table through the store's
    frame writer (no record, so diff falls back to graph_diff), which
    leaves Spark's files only in tables above the cap. At the cap it is
    still a delta commit, and the tables it leaves alone are linked,
    Spark-written ones too."""
    from gravitydb_spark import graph as graph_mod

    store = TransactionalStore(str(tmp_path / "db"))
    s0 = store.init(_base(spark))

    def rows(snap, t):
        d = os.path.join(store.path, snap, t)
        return sum(
            papq.read_metadata(os.path.join(d, f)).num_rows
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    def spark_wrote(snap, t):
        return os.path.exists(os.path.join(store.path, snap, t, "_SUCCESS"))

    def add_city(name):
        return store.load(spark).create_nodes([(name, Prop("City", name))])[0]

    # create_nodes touches vertices, properties and prop_refs, not edges
    cap = max(rows(s0, t) for t in ("vertices", "properties", "prop_refs"))
    assert cap == rows(s0, "prop_refs")
    monkeypatch.setattr(graph_mod, "ARROW_COMMIT_CAP", cap)
    s1 = store.commit(add_city("n1"))
    assert os.path.exists(os.path.join(store.path, s1, "_delta", "delta.json"))
    edges = os.path.join(store.path, s1, "edges")
    assert all(os.stat(os.path.join(edges, f)).st_nlink == 2 for f in os.listdir(edges))
    assert rows(s1, "prop_refs") > cap
    g = add_city("n2")
    s2 = store.commit(g)
    assert not os.path.exists(os.path.join(store.path, s2, "_delta"))
    assert rows(s2, "vertices") <= cap < rows(s2, "prop_refs")
    for t in TABLES:
        assert spark_wrote(s2, t) == (rows(s2, t) > cap), t
    assert _state(store.load(spark)) == _state(g)
    d = store.diff(spark, s1, s2)
    assert [r["id"] for r in d["created_nodes"].collect()] == ["n2"]
    # a cap below the edges row count: Spark writes every table
    monkeypatch.setattr(graph_mod, "ARROW_COMMIT_CAP", rows(s2, "edges") - 1)
    s3 = store.commit(add_city("n3"))
    assert all(spark_wrote(s3, t) for t in TABLES)
    # below the cap again, a delta commit links Spark's part files and
    # leaves its side files behind
    monkeypatch.setattr(graph_mod, "ARROW_COMMIT_CAP", 100_000)
    g = add_city("n4")
    s4 = store.commit(g)
    edges = os.path.join(store.path, s4, "edges")
    assert os.listdir(edges) and all(
        f.endswith(".parquet") and os.stat(os.path.join(edges, f)).st_nlink == 2
        for f in os.listdir(edges)
    )
    assert _state(store.load(spark)) == _state(g)
    d = store.diff(spark, s3, s4)
    assert [r["id"] for r in d["created_nodes"].collect()] == ["n4"]


def test_unknown_provenance_takes_the_frame_writer(spark, tmp_path):
    from gravitydb_spark.changeset import merge_graphs

    def one_file_per_table(snap_dir):
        for t in TABLES:
            assert os.listdir(os.path.join(snap_dir, t)) == ["part-00000.parquet"], t

    store = TransactionalStore(str(tmp_path / "db"))
    base = _base(spark)
    a, _ = base.create_nodes([("a1", Prop("City", "A"))])
    b, _ = base.create_nodes([("b1", Prop("City", "B"))])
    merged = merge_graphs(base, a, b)
    assert merged.delta.origin is None  # unknown provenance
    snap = store.init(merged)
    assert not os.path.exists(os.path.join(store.path, snap, "_delta"))
    one_file_per_table(os.path.join(store.path, snap))  # within the cap: pyarrow
    assert _state(store.load(spark)) == _state(merged)
    # a graph loaded from another store commits through the writer too
    other = TransactionalStore(str(tmp_path / "other"))
    snap2 = other.init(store.load(spark).delete_nodes(["a1"]))
    assert not os.path.exists(os.path.join(other.path, snap2, "_delta"))
    one_file_per_table(os.path.join(other.path, snap2))
    assert sorted(r["id"] for r in other.load(spark).vertices.collect()) == sorted(
        ["b1"] + [f"v{i}" for i in range(6)]
    )


def test_crud_results_keep_schema_column_order(spark, tmp_path):
    g = _base(spark)
    g.save(str(tmp_path / "g"))
    g = PropertyGraph.load(spark, str(tmp_path / "g"))

    def check(graph):
        for t in TABLES:
            assert getattr(graph, t).columns == SCHEMAS[t].names, t
        return graph

    check(g)
    check(g.create_nodes([("n", Prop("City", "n"))])[0])
    check(g.get_or_create_nodes([("m", Prop("City", "c1")), ("o", Prop("City", "o"))])[0])
    check(g.update_nodes([("v1", Prop("City", "u"))]))
    check(g.delete_nodes(["v1"]))
    check(g.delete_nodes(["v1"], cascade=False))
    check(g.create_edges([("v0", "v2", Prop("road", {"n": 7}))])[0])
    check(g.delete_edges([g.edges.first()["edge_id"]]))
    check(g.update_nodes([("v1", Prop("City", "u"))]).gc())


def test_load_runs_no_job_and_reads_drifted_column_order(spark, tmp_path):
    g = _base(spark)
    store = TransactionalStore(str(tmp_path / "db"))
    store.init(g)
    n_jobs, loaded = _jobs(spark, lambda: store.load(spark))
    assert n_jobs == 0
    # the same tables with their columns written in another order (what
    # a join on ref_id left behind in older stores)
    drift = tmp_path / "drift"
    for t in TABLES:
        names = SCHEMAS[t].names
        tbl = papq.read_table(os.path.join(store.current_path(), t)).select(names)
        os.makedirs(drift / t)
        papq.write_table(tbl.select(names[::-1]), str(drift / t / "part-0.parquet"))
    assert papq.read_schema(str(drift / "prop_refs" / "part-0.parquet")).names == [
        "ref_id", "ref_kind", "prop_hash"
    ]
    n_jobs, again = _jobs(spark, lambda: PropertyGraph.load(spark, str(drift)))
    assert n_jobs == 0
    for t in TABLES:
        assert getattr(again, t).columns == SCHEMAS[t].names
    assert _state(again) == _state(loaded) == _state(g)
    # a delta commit from a drifted parent writes canonical files
    store2 = TransactionalStore(str(tmp_path / "db2"))
    os.rename(drift, os.path.join(store2.path, "snap-0"))
    store2._write_log(["snap-0"])
    nxt = store2.load(spark).update_nodes([("v0", Prop("City", "drift"))])
    store2.commit(nxt)
    refs = os.path.join(store2.current_path(), "prop_refs")
    for f in os.listdir(refs):
        assert papq.read_schema(os.path.join(refs, f)).names == SCHEMAS["prop_refs"].names
    assert _state(store2.load(spark)) == _state(nxt)


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().analyzed().numberedTreeString().splitlines())


def test_table_plans_do_not_grow_with_crud_rounds(spark, tmp_path):
    """Each table is derived from the base and the delta, so from round 2
    on (every part of the delta in use) its plan keeps one size over 20
    rounds of create/update/cascading delete on a ~50-vertex graph; the
    tables equal a host model and the committed snapshot."""
    b = GraphBatchBuilder()
    verts = {f"v{i}": Prop("City", f"c{i}").hash for i in range(50)}
    edges = {}
    for vid in verts:
        b.add_node(Prop("City", f"c{vid[1:]}"), id=vid)
    for i in range(50):
        s, d, p = f"v{i}", f"v{(7 * i + 3) % 50}", Prop("road", {"n": i})
        edges[b.add_edge(s, d, p)] = (s, d, p.hash)
    store = TransactionalStore(str(tmp_path / "db"))
    store.init(b.build(spark))
    g = store.load(spark)
    sizes = None
    for r in range(1, 21):
        new = [(f"a{r}", Prop("Person", {"r": r})), (f"b{r}", Prop("Person", {"r": -r}))]
        g, _ = g.create_nodes(new)
        verts.update((vid, p.hash) for vid, p in new)
        live = sorted(verts)
        pairs = [(f"a{r}", live[r % len(live)]), (live[(3 * r) % len(live)], f"b{r}")]
        g, eids = g.create_edges([(s, d, Prop("knows", {"r": r})) for s, d in pairs])
        for (s, d), eid in zip(pairs, eids):
            edges[eid] = (s, d, Prop("knows", {"r": r}).hash)
        upd = live[(5 * r) % len(live)]
        g = g.update_nodes([(upd, Prop("City", f"u{r}"))])
        verts[upd] = Prop("City", f"u{r}").hash
        # an origin vertex, and from round 2 one created a round before
        gone = [f"v{r}"] + [f"b{r - 1}"] * (r > 1)
        g = g.delete_nodes(gone)
        for vid in gone:
            del verts[vid]
        edges = {e: row for e, row in edges.items() if not set(gone) & set(row[:2])}
        now = {t: _plan_lines(getattr(g, t)) for t in TABLES}
        if r == 2:
            sizes = now
        elif r > 2:
            assert now == sizes, r
    assert len(verts) == 51
    assert _rows(g.vertices) == sorted(verts.items())
    # _rows orders columns by name
    assert _rows(g.edges) == sorted((d, e, p, s) for e, (s, d, p) in edges.items())
    backlinks = [("node", v, p) for v, p in verts.items()]
    backlinks += [("edge", e, p) for e, (_s, _d, p) in edges.items()]
    refs = g.prop_refs.filter("ref_kind != 'prop'")  # nesting rows aside
    assert _rows(refs) == sorted((p, i, k) for k, i, p in backlinks)
    store.commit(g)
    assert _state(store.load(spark)) == _state(g)


_POOL = [
    Prop("City", "c1"), Prop("City", "pool"), Prop("Person", {"name": "p"}), Prop("road", {"n": 0})
]
_OPS = st.one_of(
    st.tuples(st.just("create"), st.integers(0, 3), st.booleans()),
    st.tuples(st.just("update"), st.integers(0, 99), st.integers(0, 3)),
    st.tuples(st.just("delete"), st.integers(0, 99), st.booleans()),
    st.tuples(st.just("get_or_create"), st.integers(0, 3)),
    st.tuples(st.just("create_edge"), st.integers(0, 99), st.integers(0, 99), st.integers(0, 3)),
    st.tuples(st.just("delete_edge"), st.integers(0, 99)),
    st.tuples(st.just("gc")),
)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_OPS, min_size=3, max_size=6))
@example(ops=[("create", 2, False), ("create_edge", 6, 0, 3), ("update", 0, 1),
              ("delete", 0, True), ("create", 0, True), ("create_edge", 6, 1, 3),
              ("get_or_create", 1), ("delete_edge", 0), ("gc",)])
def test_derived_tables_commit_and_rewrite_agree(spark, tmp_path_factory, ops):
    """The two appliers of one delta agree: random CRUD sequences on a
    loaded graph give derived tables equal to the delta commit reloaded
    and to graph.save's full rewrite, and delta_diff equals graph_diff."""
    root = tmp_path_factory.mktemp("appliers")
    store = TransactionalStore(str(root / "db"))
    parent = store.init(_base(spark))
    g = store.load(spark)
    verts, deleted = [f"v{i}" for i in range(6)], []
    edges = sorted(r["edge_id"] for r in g.edges.collect())
    for n, op in enumerate(ops):
        kind, args = op[0], op[1:]
        if kind == "create":  # possibly again under a deleted id
            vid = deleted.pop() if args[1] and deleted else f"n{n}"
            g, _ = g.create_nodes([(vid, _POOL[args[0]])])
            verts.append(vid)
        elif kind == "update" and verts:
            g = g.update_nodes([(verts[args[0] % len(verts)], _POOL[args[1]])])
        elif kind == "delete" and verts:
            deleted.append(verts.pop(args[0] % len(verts)))
            g = g.delete_nodes([deleted[-1]], cascade=args[1])
        elif kind == "get_or_create":
            g, ids = g.get_or_create_nodes([(f"n{n}", _POOL[args[0]])])
            verts += [i for i in ids if i not in verts]
        elif kind == "create_edge" and verts:
            s, d = verts[args[0] % len(verts)], verts[args[1] % len(verts)]
            g, eids = g.create_edges([(s, d, _POOL[args[2]])])
            edges += eids
        elif kind == "delete_edge" and edges:
            g = g.delete_edges([edges.pop(args[0] % len(edges))])
        elif kind == "gc":
            g = g.gc()
    derived = _state(g)
    snap = store.commit(g)
    assert os.path.exists(os.path.join(store.path, snap, "_delta", "delta.json"))
    assert _state(store.load(spark)) == derived
    full = TransactionalStore(str(root / "full"))
    full.init(g._with())
    assert _state(full.load(spark)) == derived
    got = store.diff(spark, parent, snap)
    want = graph_diff(store.load_at(spark, parent), store.load_at(spark, snap))
    for k in want:
        if k != "depends_on":
            assert _rows(got[k]) == _rows(want[k]), k

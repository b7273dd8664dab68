"""The CLI's ``--db`` is a TransactionalStore: every mutating verb commits
one snapshot and keeps only it, so after each command ``CURRENT`` names
one snapshot whose graph equals a host model and passes ``doctor``; a
command whose publication fails leaves the db as it was, and a read of a
path that is no db makes no directory."""

import os

import pytest

from gravitydb_spark import GraphBatchBuilder, Prop
from gravitydb_spark.cli import main
from gravitydb_spark.transaction import DatasetStore, TransactionalStore

TABLES = ("vertices", "edges", "properties", "prop_refs")


def _state(g):
    def rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    return {t: rows(getattr(g, t)) for t in TABLES}


def _model_state(spark, nodes, edges):
    b = GraphBatchBuilder()
    for vid, prop in nodes.items():
        b.add_node(prop, id=vid)
    for src, dst, prop in edges:
        b.add_edge(src, dst, prop)
    return _state(b.build(spark))


def _current(db):
    with open(os.path.join(db, "CURRENT"), encoding="utf-8") as f:
        return f.read()


def _orphan_snapshots(log):
    """``snap-*`` dirs on disk that are neither published nor parked."""
    pending = os.path.join(log.path, log.GC_PENDING)
    parked = open(pending).read().split() if os.path.exists(pending) else []
    on_disk = {d for d in os.listdir(log.path) if d.startswith("snap-")}
    return on_disk - set(log.snapshots()) - set(parked)


def test_mutating_verbs_publish_through_the_store(spark, tmp_path, capsys, monkeypatch):
    db = str(tmp_path / "db")
    nodes, edges = {}, []

    def run(*argv):
        assert main(list(argv)) == 0
        out = capsys.readouterr().out
        store = TransactionalStore(db)
        assert len(store.snapshots()) == 1, _current(db)
        # the current snapshot plus at most the one parked for readers
        assert len([d for d in os.listdir(db) if d.startswith("snap-")]) <= 2
        g = store.load(spark)
        assert _state(g) == _model_state(spark, nodes, edges), argv[0]
        assert all(df.isEmpty() for df in g.doctor().values()), argv[0]
        return out

    run("init", "--db", db)
    for vid, city in (("b", "Berlin"), ("p", "Paris")):
        nodes[vid] = Prop("City", city)
        run("create-node", "--db", db, "--type", "City", "--value", city, "--id", vid)
    edges.append(("b", "p", Prop("road", "A2")))
    run("create-edge", "--db", db, "--from", "b", "--to", "p", "--type", "road", "--value", "A2")
    # cascades the b->p road; gc collects the Paris and road properties
    del nodes["p"]
    edges.clear()
    run("delete-node", "--db", db, "--id", "p")

    # a command whose publication fails leaves CURRENT and the graph as they were
    before = _current(db)

    def fail(self, names, meta=None):
        raise OSError("publication failed")

    monkeypatch.setattr(TransactionalStore, "_write_log", fail)
    with pytest.raises(OSError, match="publication failed"):
        main(["create-node", "--db", db, "--type", "City", "--value", "Rome", "--id", "r"])
    assert _current(db) == before
    # and leaves no snapshot dir behind
    assert _orphan_snapshots(TransactionalStore(db)) == set()
    assert _state(TransactionalStore(db).load(spark)) == _model_state(spark, nodes, edges)
    # a read of a path that is no db fails and leaves no directory behind
    with pytest.raises(FileNotFoundError, match="init first"):
        main(["db-info", "--db", str(tmp_path / "typo")])
    assert not (tmp_path / "typo").exists()


def test_failed_append_publication_leaves_no_snapshot_dir(spark, tmp_path, monkeypatch):
    store = DatasetStore(str(tmp_path / "ds"))
    store.append(spark.range(3))
    before = _current(store.path)

    def fail(self, names, meta=None):
        raise OSError("publication failed")

    monkeypatch.setattr(DatasetStore, "_write_log", fail)
    with pytest.raises(OSError, match="publication failed"):
        store.append(spark.range(5))
    assert _current(store.path) == before
    assert _orphan_snapshots(store) == set()
    assert sorted(r.id for r in store.load(spark).collect()) == [0, 1, 2]

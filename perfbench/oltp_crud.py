"""``oltp_crud``: the embeddable graph DB used one transaction at a time.

One client, closed loop. A seeded base graph is built with
``GraphBatchBuilder`` and published with ``TransactionalStore.init``; a
seeded op stream then runs wire-JSON zoe reads, write transactions
(create / update / delete / get-or-create, then ``commit``), and an
occasional maintenance or audit op (``gc`` + ``gc_snapshots``, or
``TransactionalStore.diff``). A Python-side model of the graph checks
every read and, after the run, a fresh load of the store.
"""

from __future__ import annotations

import json
import os
import random

from harness import check, median, tail

# base graph: a few thousand elements, far below ARROW_COMMIT_CAP
N_PERSON, N_CITY, N_COMPANY = 1200, 100, 200
# op schedule: R = zoe read, W = write transaction, A = audit/maintenance
# (diff and gc alternate); one cycle runs every read kind twice and every
# write and audit kind once
CYCLE = "RWRRARWRRWRAR"
READ_KINDS = ("id", "prop", "hop2", "setop")
WRITE_KINDS = ("create", "update", "upsert")
SNAPSHOTS_KEPT = 3


def _canon(x) -> str:
    return json.dumps(x, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Model:
    """What the store must hold: vertex id -> (type, payload) and edge
    key (src, dst, type, canonical payload) -> edge id."""

    def __init__(self):
        self.v: dict[str, tuple[str, object]] = {}
        self.e: dict[tuple, str] = {}

    @staticmethod
    def v_bytes(vid, t, p) -> int:
        return len(vid) + len(t) + len(_canon(p))

    @staticmethod
    def e_bytes(key) -> int:
        src, dst, t, p = key
        return len(src) + len(dst) + len(t) + len(p)

    def live_bytes(self) -> int:
        return sum(self.v_bytes(k, *tp) for k, tp in self.v.items()) + sum(
            self.e_bytes(k) for k in self.e
        )

    def out(self, vid) -> set:
        return self._adj.get(vid, set())

    def reindex(self) -> None:
        self._adj: dict[str, set] = {}
        for src, dst, _t, _p in self.e:
            self._adj.setdefault(src, set()).add(dst)

    def min_id_with(self, t, p):
        ids = [k for k, tp in self.v.items() if tp == (t, p)]
        return min(ids) if ids else None


class OltpCrud:
    cycle = CYCLE
    query_class = "read"  # the op class query_p50_ms is the median of
    ops_per_second = 0.65  # nominal: op count = seconds x this, in whole cycles

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.rng = random.Random(ctx.seed)
        self.model = Model()
        self.seq = 0
        self.snaps: list[tuple[str, dict]] = []
        self.commit_bytes = 0
        self.user_bytes = 0

    # -- inputs -------------------------------------------------------------
    def _base_items(self):
        """The seeded base graph as (vertices, edges) item lists."""
        rng = random.Random(self.ctx.seed * 7919 + 1)
        vs, es = [], []
        cities = [f"c{i:05d}" for i in range(N_CITY)]
        companies = [f"k{i:05d}" for i in range(N_COMPANY)]
        persons = [f"p{i:05d}" for i in range(N_PERSON)]
        for i, vid in enumerate(cities):
            vs.append((vid, "City", {"name": f"city-{rng.randrange(10**6)}-{i}"}))
        for i, vid in enumerate(companies):
            vs.append((vid, "Company", {"name": f"co-{i}", "size": rng.randint(1, 5000)}))
        for i, vid in enumerate(persons):
            vs.append((vid, "Person", {"name": f"person-{i}", "age": rng.randint(18, 90)}))
            es.append((vid, rng.choice(cities), "lives_in", None))
            if rng.random() < 0.8:
                es.append((vid, rng.choice(companies), "works_at",
                           {"role": rng.choice(["eng", "ops", "sales", "mgmt"])}))
            for _ in range(rng.choice((1, 2, 2, 3))):
                es.append((vid, rng.choice(persons), "knows",
                           {"since": rng.randint(1990, 2025)}))
        return vs, es

    def _new_id(self, prefix: str) -> str:
        self.seq += 1
        return f"{prefix}{self.seq:06d}"

    # -- set-up -------------------------------------------------------------
    def build(self) -> None:
        """Build the base graph and publish it as a fresh store."""
        from gravitydb_spark import GraphBatchBuilder, Prop
        from gravitydb_spark.hashing import edge_hash
        from gravitydb_spark.transaction import TransactionalStore

        vs, es = self._base_items()
        path = os.path.join(self.ctx.work, "store")
        with self.tr.span("sources.build"):
            b = GraphBatchBuilder()
            for vid, t, p in vs:
                b.add_node(Prop(t, p), id=vid)
            for src, dst, t, p in es:
                b.add_edge(src, dst, Prop(t, p))
            g = b.build(self.spark)
            store = TransactionalStore(path)
            name = store.init(g)
        model = Model()
        for vid, t, p in vs:
            model.v[vid] = (t, p)
        for src, dst, t, p in es:
            model.e[(src, dst, t, _canon(p))] = edge_hash(src, dst, Prop(t, p).hash)
        model.reindex()
        self.model, self.store, self.path = model, store, path
        self.snaps = [(name, {})]
        self.g = store.load(self.spark)

    def warm_up(self, log) -> None:
        """Discarded ops, so the first-call cost (JIT, codegen, plan
        caches) of each op class stays out of the timed phase: a set-op
        read (two 2-hop traversals), an upsert transaction (mutate, commit,
        reload), a diff and a gc. The other read and write kinds share
        those paths; warming them too would not fit the run budget. The
        upsert is a real transaction: the model follows it."""
        with log.op("warmup"):
            self._read("setop")
        with log.op("warmup"):
            self._write("upsert")
        with log.op("warmup"):
            self._diff()
        with log.op("warmup"):
            self._gc()

    # -- ops ----------------------------------------------------------------
    def _query(self, wire: dict, expect: set) -> None:
        from gravitydb_spark import execute, query_from_json

        with self.tr.span("ql.parse"):
            q = query_from_json(wire)
        with self.tr.span("plans.execute"):
            res = execute(self.g, q)
        with self.tr.span("plans.extract"):
            rows = res.extract_properties().collect()
        got = {r["id"] for r in rows}
        check(got == expect, f"read {json.dumps(wire)[:120]}: {len(got)} ids, model {len(expect)}")
        for r in rows:
            t, p = self.model.v[r["id"]]
            check(r["schema_type"] == t and json.loads(r["value"]) == p,
                  f"read: payload of {r['id']} differs from the model")

    def _read(self, kind: str) -> None:
        from gravitydb_spark import Prop

        m, rng = self.model, self.rng
        ids = sorted(m.v)
        if kind == "id":
            vid = rng.choice(ids)
            self._query({"V": {"Specific": [vid]}}, {vid})
        elif kind == "prop":
            vid = rng.choice(ids)
            t, p = m.v[vid]
            want = {k for k, tp in m.v.items() if tp == (t, p)}
            self._query({"V": {"Property": {"Specific": Prop(t, p).hash}}}, want)
        elif kind == "hop2":
            vid = rng.choice([k for k in ids if k.startswith("p")])
            want = {w for u in m.out(vid) for w in m.out(u)}
            hop = {"Out": {"Out": {"Specific": [vid]}}}
            self._query({"V": {"Out": {"Out": hop}}}, want)
        else:
            # symmetric difference, (A | B) - (A & B): all three set ops in
            # one query of the same shape for every seed
            a, b = rng.sample([k for k in ids if k.startswith("p")], 2)
            sa, sb = m.out(a), m.out(b)
            pair = [{"Out": {"Out": {"Specific": [v]}}} for v in (a, b)]
            self._query({"V": {"Substract": [{"Union": pair}, {"Intersect": pair}]}},
                        (sa | sb) - (sa & sb))

    def _write(self, kind: str) -> None:
        from gravitydb_spark import Prop

        m, rng, g = self.model, self.rng, self.g
        persons = sorted(k for k, tp in m.v.items() if tp[0] == "Person")
        cities = sorted(k for k, tp in m.v.items() if tp[0] == "City")
        new_v, new_e, del_e, mod_v = {}, {}, {}, {}
        with self.tr.span("graph.mutate", kind=kind):
            if kind == "create":
                items = [(self._new_id("n"), Prop("Person", {"name": f"new-{self.seq}",
                          "age": rng.randint(18, 90)})) for _ in range(3)]
                g, ids = g.create_nodes(items)
                check(ids == [vid for vid, _ in items], "create_nodes: ids differ")
                for vid, p in items:
                    new_v[vid] = (p.schema_type, p.payload)
                edges = []
                for vid, _p in items:
                    edges.append((vid, rng.choice(cities), Prop("lives_in")))
                    edges.append((vid, rng.choice(persons),
                                  Prop("knows", {"since": rng.randint(1990, 2025)})))
                g, eids = g.create_edges(edges)
                for (s, d, p), eid in zip(edges, eids):
                    new_e[(s, d, p.schema_type, _canon(p.payload))] = eid
            elif kind == "update":
                items = [(vid, Prop("Person", {"name": f"upd-{self._new_id('u')}",
                          "age": rng.randint(18, 90)})) for vid in rng.sample(persons, 2)]
                g = g.update_nodes(items)
                for vid, p in items:
                    mod_v[vid] = (p.schema_type, p.payload)
                keys = rng.sample(sorted(m.e), 2)
                g = g.delete_edges([m.e[k] for k in keys])
                for k in keys:
                    del_e[k] = m.e[k]
            else:  # upsert
                t, p = m.v[rng.choice(cities)]
                items = [(self._new_id("x"), Prop(t, p)),
                         (self._new_id("k"), Prop("Company", {"name": f"co-new-{self.seq}",
                                                             "size": rng.randint(1, 50)}))]
                g, ids = g.get_or_create_nodes(items)
                check(ids[0] == m.min_id_with(t, p), "get_or_create_nodes: hit not reused")
                check(ids[1] == items[1][0], "get_or_create_nodes: miss not created")
                new_v[ids[1]] = ("Company", items[1][1].payload)
                edge = (rng.choice(persons), ids[1], Prop("works_at", {"role": "eng"}))
                g, eids = g.create_edges([edge])
                s, d, ep = edge
                new_e[(s, d, ep.schema_type, _canon(ep.payload))] = eids[0]
        name = self._commit(g)
        user = sum(Model.v_bytes(k, *tp) for k, tp in {**new_v, **mod_v}.items())
        user += sum(Model.e_bytes(k) for k in {**new_e, **del_e})
        self.user_bytes += user
        m.v.update(new_v)
        m.v.update(mod_v)
        for k in del_e:
            del m.e[k]
        m.e.update(new_e)
        m.reindex()
        self.snaps.append((name, {"created": set(new_v), "modified": set(mod_v),
                                  "deleted_edges": set(del_e.values()),
                                  "created_edges": set(new_e.values())}))

    def _commit(self, g) -> str:
        with self.tr.span("transaction.commit"):
            name = self.store.commit(g)
        self.commit_bytes += _dir_bytes(os.path.join(self.path, name))
        with self.tr.span("transaction.load"):
            self.g = self.store.load(self.spark)
        return name

    def _gc(self) -> None:
        with self.tr.span("graph.gc"):
            g = self.g.gc()
        name = self._commit(g)
        self.snaps.append((name, {}))
        with self.tr.span("transaction.gc_snapshots"):
            self.store.gc_snapshots(keep=SNAPSHOTS_KEPT)

    def _diff(self) -> None:
        (a, _), (b, want) = self.snaps[-2], self.snaps[-1]
        with self.tr.span("changeset.diff"):
            ch = self.store.diff(self.spark, a, b)
            got = {
                "created": {r["id"] for r in ch["created_nodes"].collect()},
                "modified": {r["id"] for r in ch["modified"].collect()},
                "deleted_edges": {r["edge_id"] for r in ch["deleted_edges"].collect()},
                "created_edges": {r["edge_id"] for r in ch["created_edges"].collect()},
            }
        for k, v in want.items():
            check(got[k] == v, f"diff {a}..{b}: {k} differs from the model")

    def run(self, log, n_ops: int) -> None:
        n_r = n_w = n_a = 0
        for i in range(n_ops):
            slot = CYCLE[i % len(CYCLE)]
            if slot == "R":
                # op kinds rotate in a fixed order so every seed runs the
                # same mix; the seed picks the vertices and payloads
                kind = READ_KINDS[n_r % len(READ_KINDS)]
                n_r += 1
                with log.op("read"):
                    self._read(kind)
            elif slot == "W":
                kind = WRITE_KINDS[n_w % len(WRITE_KINDS)]
                n_w += 1
                with log.op("commit"):
                    self._write(kind)
            else:
                n_a += 1
                if n_a % 2:
                    with log.op("diff"):
                        self._diff()
                else:
                    with log.op("gc"):
                        self._gc()

    # -- after the run --------------------------------------------------------
    def verify(self) -> None:
        """Every acknowledged commit must be readable from disk: a fresh
        store object's load must equal the model."""
        from gravitydb_spark.transaction import TransactionalStore

        g = TransactionalStore(self.path).load(self.spark)
        props = {r["prop_hash"]: (r["schema_type"], r["value"])
                 for r in g.properties.collect()}
        got_v = {}
        for r in g.vertices.collect():
            t, v = props[r["prop_hash"]]
            got_v[r["id"]] = (t, json.loads(v))
        check(got_v == self.model.v, f"store vertices: {len(got_v)} vs model {len(self.model.v)}")
        got_e = {}
        for r in g.edges.collect():
            t, v = props[r["prop_hash"]]
            got_e[(r["src"], r["dst"], t, _canon(json.loads(v)))] = r["edge_id"]
        check(got_e == self.model.e, f"store edges: {len(got_e)} vs model {len(self.model.e)}")

    def metrics(self, log) -> dict:
        out = {}
        for kind in ("read", "commit"):
            xs = log.samples.get(kind, [])
            if xs:
                v, pct, n = tail(xs)
                out[f"{kind}_p50_ms"] = (median(xs) * 1e3, "ms")
                out[f"{kind}_tail_ms"] = (v * 1e3, f"ms@p{pct:.0f}/n={n}")
        if self.user_bytes:
            out["write_amp"] = (self.commit_bytes / self.user_bytes, "ratio")
        out["space_amp"] = (_dir_bytes(self.path) / self.model.live_bytes(), "ratio")
        out["store_bytes"] = (_dir_bytes(self.path), "bytes")
        out["commit_bytes"] = (self.commit_bytes, "bytes")
        return out


WORKLOAD = OltpCrud

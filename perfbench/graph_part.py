"""The graph half of ``batch_analytics``: kernels and traversals over a
TPC-H-shaped graph and a customer-supplier trade graph.

Set-up writes seeded ``region/nation/customer/supplier`` tables plus a
customer-supplier trade table, builds ``graph_queries.tpch_graph`` and
ingests the symmetrized trade edges with ``sources.ingest``. Each step
calls one ``operators.iterative`` kernel directly - connected components,
PageRank, k-core or BFS - or runs one seeded multi-hop zoe traversal
through ``plans.execute``, and checks the result against a host-side
recomputation.
"""

from __future__ import annotations

import os
import random

from harness import check, median, tail

N_REGION, N_NATION = 5, 25
BFS_SOURCES = 3


def _write(path, rows: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(rows), path)


class Host:
    """Host-side graph algorithms for the checks."""

    @staticmethod
    def components(nodes, edges) -> dict:
        parent = {v: v for v in nodes}

        def find(v):
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        labels: dict = {}
        for v in nodes:
            labels.setdefault(find(v), []).append(v)
        return {v: min(members) for members in labels.values() for v in members}

    @staticmethod
    def pagerank(nodes, edges, iters, d=0.85) -> dict:
        n = len(nodes)
        out: dict = {}
        for s, t in edges:
            out.setdefault(s, []).append(t)
        rank = dict.fromkeys(nodes, 1.0 / n)
        for _ in range(iters):
            nxt = dict.fromkeys(nodes, 0.0)
            dangling = 0.0
            for v, r in rank.items():
                if v in out:
                    share = r / len(out[v])
                    for t in out[v]:
                        nxt[t] += share
                else:
                    dangling += r
            rank = {v: (1 - d) / n + d * (nxt[v] + dangling / n) for v in nodes}
        return rank

    @staticmethod
    def kcore(und, k) -> dict:
        adj: dict = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
        alive, out, r = set(adj), {}, 0
        while True:
            r += 1
            gone = {v for v in alive if len(adj[v] & alive) < k}
            if not gone:
                break
            for v in gone:
                out[v] = r
            alive -= gone
        out.update(dict.fromkeys(alive, 0))
        return out

    @staticmethod
    def bfs(adj, sources) -> dict:
        dist = dict.fromkeys(sources, 0)
        frontier = list(sources)
        while frontier:
            nxt = []
            for v in frontier:
                for t in adj.get(v, ()):
                    if t not in dist:
                        dist[t] = dist[v] + 1
                        nxt.append(t)
            frontier = nxt
        return dist


class GraphPart:
    # both graphs are small: every kernel is iteration-overhead-bound
    n_customer, n_supplier = 2000, 150
    trades_per_customer = (3, 12)
    pr_iters = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.rng = random.Random(ctx.seed)
        self.pass_s: dict[str, list[float]] = {}

    # -- inputs -------------------------------------------------------------
    def _tables(self, d: str) -> None:
        rng = random.Random(self.ctx.seed * 104729 + 3)
        nat = [rng.randrange(N_NATION) for _ in range(self.n_customer + self.n_supplier)]
        _write(f"{d}/region.parquet", {
            "r_regionkey": [int(i) for i in range(N_REGION)],
            "r_name": [f"REGION{i}" for i in range(N_REGION)]})
        import pyarrow as pa

        _write(f"{d}/nation.parquet", {
            "n_nationkey": pa.array(range(N_NATION), pa.int32()),
            "n_name": [f"NATION{i}" for i in range(N_NATION)],
            "n_regionkey": pa.array([i % N_REGION for i in range(N_NATION)], pa.int32())})
        _write(f"{d}/customer.parquet", {
            "c_custkey": pa.array(range(1, self.n_customer + 1), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1, self.n_customer + 1)],
            "c_nationkey": pa.array(nat[:self.n_customer], pa.int32()),
            "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(self.n_customer)],
            "c_mktsegment": [rng.choice(["AUTOMOBILE", "BUILDING", "MACHINERY"])
                             for _ in range(self.n_customer)]})
        _write(f"{d}/supplier.parquet", {
            "s_suppkey": pa.array(range(1, self.n_supplier + 1), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, self.n_supplier + 1)],
            "s_nationkey": pa.array(nat[self.n_customer:], pa.int32()),
            "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(self.n_supplier)]})
        pairs = set()
        for c in range(1, self.n_customer + 1):
            for _ in range(rng.randint(*self.trades_per_customer)):
                # skewed supplier popularity: low keys trade far more
                s = 1 + int(self.n_supplier * rng.random() ** 2)
                pairs.add((f"c{c}", f"s{s}"))
        self.pairs = sorted(pairs)
        _write(f"{d}/trade.parquet", {"a": [a for a, _ in self.pairs],
                                      "b": [b for _, b in self.pairs]})
        # host copies of the two graphs
        self.t_nodes = ([f"c{i}" for i in range(1, self.n_customer + 1)]
                        + [f"s{i}" for i in range(1, self.n_supplier + 1)]
                        + [f"n{i}" for i in range(N_NATION)]
                        + [f"r{i}" for i in range(N_REGION)])
        self.t_edges = ([(f"c{i}", f"n{nat[i - 1]}") for i in range(1, self.n_customer + 1)]
                        + [(f"s{i}", f"n{nat[self.n_customer + i - 1]}")
                           for i in range(1, self.n_supplier + 1)]
                        + [(f"n{i}", f"r{i % N_REGION}") for i in range(N_NATION)])
        self.trade_adj: dict = {}
        for a, b in self.pairs:
            self.trade_adj.setdefault(a, set()).add(b)
            self.trade_adj.setdefault(b, set()).add(a)
        self.t_out: dict = {}
        self.t_in: dict = {}
        for s, t in self.t_edges:
            self.t_out.setdefault(s, set()).add(t)
            self.t_in.setdefault(t, set()).add(s)

    # -- set-up -------------------------------------------------------------
    def build(self) -> None:
        from pyspark.sql import functions as F

        from gravitydb_spark.graph_queries import tpch_graph
        from gravitydb_spark.sources.ingest import ingest_graph

        d = os.path.join(self.ctx.work, "tpch")
        os.makedirs(d)
        self._tables(d)
        spark = self.spark
        with self.tr.span("sources.tpch_graph"):
            g = tpch_graph(spark, d)
            g.vertices.count()
        with self.tr.span("sources.ingest"):
            trade = spark.read.parquet(f"{d}/trade.parquet")
            und = trade.unionByName(trade.select(F.col("b").alias("a"), F.col("a").alias("b")))
            verts = und.select(F.col("a").alias("id")).distinct().select(
                "id",
                F.when(F.col("id").startswith("c"), "Customer").otherwise("Supplier")
                .alias("schema_type"),
                F.col("id").alias("payload"))
            edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                               F.lit("Trades").alias("schema_type"),
                               F.lit(None).cast("string").alias("payload"))
            tg = ingest_graph(spark, verts, edges).cache()
            tg.edges.count()
            tg.vertices.count()
            und = und.cache()
            und.count()
        self.g, self.tg, self.und = g, tg, und
        self.k = max(2, round(2 * len(self.pairs) / len(self.trade_adj) / 2))

    # -- ops ----------------------------------------------------------------
    def _collect(self, span, kernel):
        """Call a kernel and collect its result, both inside the span:
        iterative kernels run their rounds eagerly, inside the call."""
        with self.tr.span(span):
            return kernel().collect()

    def _kernel(self, kind: str) -> None:
        from gravitydb_spark.operators.iterative import (
            bfs_distances, connected_components, kcore_onion, pagerank)

        if kind == "cc":
            rows = self._collect("operators.cc", lambda: connected_components(self.g))
            want = Host.components(self.t_nodes, self.t_edges)
            got = {r["id"]: r["component"] for r in rows}
            check(got == want, f"cc: {len(set(got.values()))} components, host "
                               f"{len(set(want.values()))}")
        elif kind == "pagerank":
            rows = self._collect("operators.pagerank",
                                 lambda: pagerank(self.g, iters=self.pr_iters))
            got = {r["id"]: r["rank"] for r in rows}
            check(abs(sum(got.values()) - 1.0) < 1e-6, "pagerank: mass is not 1")
            want = Host.pagerank(self.t_nodes, self.t_edges, self.pr_iters)
            check(set(got) == set(want) and all(abs(got[v] - want[v]) < 1e-9 for v in want),
                  "pagerank: ranks differ from the host power iteration")
        elif kind == "kcore":
            rows = self._collect("operators.kcore", lambda: kcore_onion(
                self.und, self.k, n_verts=len(self.trade_adj)))
            got = {r["id"]: r["peel_round"] for r in rows}
            check(got == Host.kcore(self.pairs + [(b, a) for a, b in self.pairs], self.k),
                  "kcore: peel rounds differ from the host peel")
        else:  # bfs
            cust = sorted(v for v in self.trade_adj if v.startswith("c"))
            srcs = self.rng.sample(cust, BFS_SOURCES)
            sdf = self.spark.createDataFrame([(s,) for s in srcs], "id string")
            rows = self._collect("operators.bfs", lambda: bfs_distances(self.tg, sdf))
            got = {r["id"]: r["dist"] for r in rows}
            check(got == Host.bfs(self.trade_adj, srcs), "bfs: distances differ from host")

    def _traverse(self, kind: str) -> None:
        from gravitydb_spark import execute, query_from_json

        def hop(q):
            return {"Out": {"Out": q}}

        def back(q):
            return {"In": {"In": q}}

        rng = self.rng
        if kind == "trav_nation":
            # everyone located in customer c's nation
            c = f"c{rng.randint(1, self.n_customer)}"
            wire = {"V": back(hop({"Specific": [c]}))}
            graph = self.g
            want = {v for n in self.t_out[c] for v in self.t_in[n]}
        elif kind == "trav_cotrade":
            # suppliers trading with the customers of supplier s
            s = f"s{rng.randint(1, 20)}"
            wire = {"V": hop(hop({"Specific": [s]}))}
            graph = self.tg
            want = {w for u in self.trade_adj.get(s, ()) for w in self.trade_adj[u]}
        else:
            # customers sharing a supplier with customer c
            c = f"c{rng.randint(1, self.n_customer)}"
            wire = {"V": hop(hop({"Specific": [c]}))}
            graph = self.tg
            want = {w for u in self.trade_adj.get(c, ()) for w in self.trade_adj[u]}
        with self.tr.span("ql.parse"):
            q = query_from_json(wire)
        with self.tr.span("plans.execute"):
            res = execute(graph, q)
        with self.tr.span("plans.extract"):
            rows = res.extract_properties().collect()
        check({r["id"] for r in rows} == want, f"{kind}: result ids differ from host")

    def call(self, kind: str) -> None:
        if kind.startswith("trav"):
            self._traverse(kind)
        else:
            self._kernel(kind)

    def step(self, log, kind: str) -> None:
        cls = "traversal" if kind.startswith("trav") else "kernel"
        done = len(log.samples.get(cls, ()))
        with log.op(cls):
            self.call(kind)
        if cls == "kernel" and len(log.samples.get(cls, ())) > done:
            self.pass_s.setdefault(kind, []).append(log.samples[cls][-1])

    def metrics(self, log) -> dict:
        out = {}
        for kind, xs in self.pass_s.items():
            out[f"{kind}_s"] = (median(xs), "s")
        if self.pass_s:
            out["analytics_s"] = (sum(median(x) for x in self.pass_s.values()), "s")
        trav = log.samples.get("traversal", [])
        if trav:
            v, pct, n = tail(trav)
            out["traversal_p50_ms"] = (median(trav) * 1e3, "ms")
            out["traversal_tail_ms"] = (v * 1e3, f"ms@p{pct:.0f}/n={n}")
        return out


"""AST → DataFrame compiler (the reference's recursive interpreter,
re-expressed as a Catalyst plan).

The reference walks the AST bottom-up, materializing a ``HashMap<id, ctx>``
at every step with per-element point reads (N+1 loops,
kv_graph_store.rs:139-305). Here every AST node becomes a DataFrame
transform over the graph's four tables, so the *whole query* is one lazy
plan: Catalyst pushes property filters into the parquet scan, prunes
columns, broadcasts the small side of each join, and whole-stage-codegens
the chain. Traversals are frontier-at-a-time joins
instead of element-at-a-time point reads.

Point reads and short traversals compile to the smallest plan:

- a literal id set (``Specific``) is a ``LocalRelation``
  (``graph.literal_frame``: exact size statistics, so a join broadcasts
  the literal side, never the table it probes), and a hop taken straight
  off one (``Out``/``In`` of ``Specific``) is a ``src``/``dst IN (...)``
  predicate pushed into the edges scan. Never a Python-RDD
  ``createDataFrame`` (``Scan ExistingRDD``: no size statistics). A
  top-level literal set is its own result — no lookup, no distinct;
- ``QueryResult`` plans no branch for a result side known to be empty
  (and an empty literal set is an empty ``LocalRelation``, which
  ``PropagateEmptyRelation`` drops), and ``extract_properties`` reads
  frontier ids as a semi-join key set, so it needs no distinct;
- result sets compile without paths; ``QueryResult.paths`` compiles a
  second, path-carrying plan on first read. Only a filter that takes the
  path context makes the result sets carry paths.

Frontier representation (``_Compiler(paths=True)``; without paths a
frontier is just ``id``, resp. ``id, src, dst``, and hops are semi-joins):

- vertex frontier: ``id, path, start``
- edge frontier:   ``id, src, dst, path, start``

``path`` is ``array<struct<v,e>>`` — the (vertex, edge) hops so far
(VertexQueryContext/EdgeQueryContext, ql.rs:246-352); ``start`` is the
edge id when the chain started at an edge leaf (EdgeQueryContext::new sets
``start = Some(id)``, ql.rs:325-331).

Path multiplicity: the reference keeps ONE arbitrary context per reached id
(HashMap insert; author-acknowledged flaw, docs/key_value_store.adoc:1547).
We keep ALL distinct paths; result *sets* (vertices/edges) are defined by
distinct id, so set results match the reference deterministically while
paths are a deterministic superset (SURVEY.md §7 hard-part 2).

Set-op context semantics mirror the helpers at kv_graph_store.rs:875-936:
Intersect/Substract keep the left side's contexts (left-semi / left-anti
joins). DisjunctiveUnion implements the DOCUMENTED symmetric difference
(docs/query_language.adoc:461-474) — the reference's helper computes an
intersection instead (untested, acknowledged bug).
"""

from __future__ import annotations

import inspect
from dataclasses import dataclass
from functools import cached_property, reduce
from typing import Callable, Optional, Union

from pyspark.sql import DataFrame, Window, functions as F

from ..graph import PropertyGraph, _aqe_off, literal_frame
from ..ql import (
    BasicQuery,
    EdgeQuery,
    ExprFilter,
    FilterContext,
    PandasFilter,
    PropertyQuery,
    ShellFilter,
    VertexQuery,
)

__all__ = ["execute", "QueryResult"]

PATH_TYPE = "array<struct<v:string,e:string>>"
_NULL_PATH = f"CAST(NULL AS {PATH_TYPE}) AS path"
_NULL_START = "CAST(NULL AS string) AS start"


def _hop_path(prev: Optional[str], v: str) -> str:
    """SQL for the path ``prev`` (None: no hops yet) with the hop
    ``(v, edge_id)`` appended (into_edge_ctx, ql.rs:281-302)."""
    hop = f"array(named_struct('v', {v}, 'e', edge_id))"
    if prev is not None:
        hop = f"CASE WHEN {prev} IS NULL THEN {hop} ELSE concat({prev}, {hop}) END"
    return f"CAST({hop} AS {PATH_TYPE}) AS path"


def _sql_str(v: str) -> str:
    """``v`` as a Spark SQL string literal."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_in(col: str, values) -> str:
    """SQL predicate ``col IN (values...)`` for a literal string set.
    Predicates are SQL text so the JVM parses each in one call
    (``Column.isin`` makes two py4j round trips per value)."""
    return f"{col} IN ({', '.join(map(_sql_str, values))})" if values else "false"


def _wants_ctx(fn: Callable) -> bool:
    """A filter "wants" the query context iff it REQUIRES a third
    positional argument — defaulted/keyword/var params don't opt in (a
    2-arg filter with an option like ``strict=False`` must not silently
    receive the FilterContext as its option)."""
    try:
        params = inspect.signature(fn).parameters.values()
    except (ValueError, TypeError):  # C-implemented callables
        return False
    required = [
        p
        for p in params
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD) and p.default is p.empty
    ]
    return len(required) >= 3


def _reads_paths(q) -> bool:
    """Whether a filter anywhere in ``q`` takes the path context."""
    if isinstance(q, (ExprFilter, PandasFilter)):
        return _wants_ctx(q.fn)
    return any(_reads_paths(a) for a in getattr(q, "args", ()))


@dataclass
class _Compiled:
    """A compiled sub-query: the frontier plus Store side-effect sets."""

    frontier: DataFrame
    v_store: Optional[DataFrame] = None  # DF[id]
    e_store: Optional[DataFrame] = None  # DF[id]


def _merge_store(a: Optional[DataFrame], b: Optional[DataFrame]) -> Optional[DataFrame]:
    if a is None:
        return b
    if b is None:
        return a
    return a.unionByName(b).distinct()


class _Compiler:
    """Compiles with per-query memoization: identical AST subtrees (the
    queries are frozen dataclasses, so hashable by value) compile to the
    SAME DataFrame object → identical logical subplans → Spark's
    ReusedExchange kicks in at the physical level instead of re-running
    shared branches (common in set-op trees, e.g. A∪B △ B∪C).

    ``paths=False`` compiles frontiers without ``path``/``start``: a
    vertex frontier is ``[id]``, an edge frontier ``[id, src, dst]``, and
    each hop is a semi-join, so a frontier never multiplies by its path
    count. The result sets are the same either way."""

    def __init__(self, graph: PropertyGraph, paths: bool = False):
        self.g = graph
        self.paths = paths
        self.v_cols = ["id", "path", "start"] if paths else ["id"]
        self.e_cols = ["id", "src", "dst", "path", "start"] if paths else ["id", "src", "dst"]
        self._memo_v: dict = {}
        self._memo_e: dict = {}
        self._memo_p: dict = {}

    # -- property queries → DF[prop_hash] -----------------------------------

    def compile_pq(self, q: PropertyQuery) -> DataFrame:
        if q not in self._memo_p:
            self._memo_p[q] = self._compile_pq(q)
        return self._memo_p[q]

    @staticmethod
    def _pq_predicate(q, col: str = "prop_hash") -> Optional[str]:
        """Literal property probes (Specific / FromTo) compile to a
        pushed-down predicate instead of a broadcast semi-join: no
        broadcast-build job per probe, and the equality/range predicate
        reaches the parquet scan (PushedFilters). At 100 TB this turns a
        probe into a footer-pruned point read; at gate scale it collapses
        ~10 scheduler round-trips per traversal into zero."""
        if q.kind == "Specific":
            return f"{col} = {_sql_str(q.args[0])}"
        if q.kind == "FromTo":
            return f"{col} BETWEEN {_sql_str(q.args[0])} AND {_sql_str(q.args[1])}"
        return None

    def _compile_pq(self, q: PropertyQuery) -> DataFrame:
        p = self.g.properties
        r = self.g.prop_refs
        if q.kind in ("Specific", "FromTo"):
            # existence probe (kv_graph_store.rs:328-335); the equality or
            # range predicate is pushed down to the parquet scan
            return p.filter(self._pq_predicate(q)).select("prop_hash")
        if q.kind == "ReferencingProperties":
            # parents that nest any of ``inner`` (backlinks ref_kind='prop')
            pred = self._pq_predicate(q.args[0])
            if pred is not None:
                return (
                    r.filter(f"ref_kind = 'prop' AND {pred}")
                    .selectExpr("ref_id AS prop_hash")
                    .distinct()
                )
            inner = self.compile_pq(q.args[0])
            return (
                r.filter("ref_kind = 'prop'")
                .join(F.broadcast(inner), "prop_hash", "leftsemi")
                .selectExpr("ref_id AS prop_hash")
                .distinct()
            )
        if q.kind == "ReferencedProperties":
            # inverse lookup — reference stubs this to empty
            # (kv_graph_store.rs:348-351); implemented per the AST docs.
            pred = self._pq_predicate(q.args[0], col="ref_id")
            if pred is not None:
                return (
                    r.filter(f"ref_kind = 'prop' AND {pred}")
                    .select("prop_hash")
                    .distinct()
                )
            inner = self.compile_pq(q.args[0])
            return (
                r.filter("ref_kind = 'prop'")
                .join(F.broadcast(inner.selectExpr("prop_hash AS ref_id")), "ref_id", "leftsemi")
                .select("prop_hash")
                .distinct()
            )
        raise ValueError(f"unknown PropertyQuery kind: {q.kind}")

    # -- shared element-query plumbing --------------------------------------

    def _refs(self, pq: PropertyQuery, ref_kind: str) -> DataFrame:
        """``prop_refs`` backlinks of kind ``ref_kind`` whose property
        matches ``pq``: a pushed scan predicate for a literal probe, a
        broadcast semi-join otherwise."""
        is_kind = f"ref_kind = '{ref_kind}'"
        pred = self._pq_predicate(pq)
        if pred is not None:
            return self.g.prop_refs.filter(f"{is_kind} AND {pred}")
        props = F.broadcast(self.compile_pq(pq))
        return self.g.prop_refs.filter(is_kind).join(props, "prop_hash", "leftsemi")

    def _prop_leaf_ids(self, q, element: str) -> Optional[DataFrame]:
        """Peephole: a Property leaf used only as a set-op KEY SET doesn't
        need its full frontier (which joins the edges table for src/dst) —
        the prop_refs backlinks ARE the id set. Saves one join per filtered
        traversal (`.outgoing(filter)` compiles to Intersect(..., Property))."""
        if getattr(q, "kind", None) != "Property":
            return None
        ref_kind = "node" if element == "v" else "edge"
        return self._refs(q.args[0], ref_kind).selectExpr("ref_id AS id")

    def ids(self, frontier: DataFrame, element: str) -> DataFrame:
        """The frontier's ``id`` column (a path-less vertex frontier is
        nothing else)."""
        if element == "v" and not self.paths:
            return frontier
        return frontier.select("id")

    def _v_leaf(self, df: DataFrame, id_col: str = "id") -> DataFrame:
        """A vertex frontier with no hops yet, from ``df``'s ``id_col``."""
        if not self.paths and id_col == "id":
            return df
        extra = [_NULL_PATH, _NULL_START] if self.paths else []
        return df.selectExpr(f"{id_col} AS id", *extra)

    def _e_leaf(self, edges: DataFrame) -> DataFrame:
        """An edge frontier starting at rows of the edges table (an edge
        leaf's ``start`` is its own id, EdgeQueryContext::new, ql.rs:325-331)."""
        extra = [_NULL_PATH, "edge_id AS start"] if self.paths else []
        return edges.selectExpr("edge_id AS id", "src", "dst", *extra)

    def _set_op(
        self,
        kind: str,
        a: _Compiled,
        b: _Compiled,
        qb=None,
        element: str = "v",
    ) -> DataFrame:
        fa, fb = a.frontier, b.frontier
        if kind == "Union":
            return fa.unionByName(fb)
        if kind in ("Intersect", "Substract"):
            # semi/anti joins ignore right-side duplicates — no distinct needed
            kb = self._prop_leaf_ids(qb, element)
            if kb is None:
                kb = self.ids(fb, element)
            return fa.join(kb, "id", "leftsemi" if kind == "Intersect" else "leftanti")
        if kind == "DisjunctiveUnion":
            # the rows whose id only one side holds, in ONE pass over each
            # side: anti-joins would read each side twice (as frontier and
            # as key set), running its plan twice, or needing a cache that
            # no read releases
            w = Window.partitionBy("id")
            both = fa.withColumn("_side", F.lit(0)).unionByName(fb.withColumn("_side", F.lit(1)))
            return (
                both.withColumn("_sides", F.max("_side").over(w) - F.min("_side").over(w))
                .filter("_sides = 0")
                .drop("_side", "_sides")
            )
        raise ValueError(kind)

    def _apply_filter(self, frontier: DataFrame, flt, element: str) -> DataFrame:
        """Join the frontier to its elements' property payloads and filter.

        Replaces the never-executed ShellFilter (kv_graph_store.rs:208,301)
        with in-plan predicates: ExprFilter stays JVM-side (codegen),
        PandasFilter is Arrow-batched. We never shell out per element.
        """
        if isinstance(flt, ShellFilter):
            raise NotImplementedError(
                "ShellFilter is wire-compat only (the reference never executes "
                "it either); use ExprFilter or PandasFilter"
            )
        if element == "v":
            elem, cols = self.g.vertices.select("id", "prop_hash"), self.v_cols
        else:
            elem, cols = self.g.edges.selectExpr("edge_id AS id", "prop_hash"), self.e_cols
        enriched = frontier.join(elem, "id", "left").join(
            self.g.properties.select("prop_hash", "value", "schema_type"),
            "prop_hash",
            "left",
        )
        # execute() compiles with paths whenever a filter takes the context
        wants_ctx = _wants_ctx(flt.fn)
        if isinstance(flt, ExprFilter):
            if wants_ctx:
                # documented filter contract (query_language.adoc:536-543):
                # the program sees the element id, the path so far, the
                # start edge, and the side-effect variables
                ctx = FilterContext(
                    id=F.col("id"),
                    path=F.coalesce(F.col("path"), F.lit([]).cast(PATH_TYPE)),
                    start=F.col("start"),
                    variables={},
                )
                keep = flt.fn(F.col("value"), F.col("schema_type"), ctx)
            else:
                keep = flt.fn(F.col("value"), F.col("schema_type"))
        elif isinstance(flt, PandasFilter):
            from pyspark.sql.functions import pandas_udf

            if wants_ctx:
                user_fn = flt.fn

                def _with_ctx(value, schema_type, ids, paths, starts):
                    return user_fn(
                        value,
                        schema_type,
                        FilterContext(id=ids, path=paths, start=starts, variables={}),
                    )

                udf = pandas_udf(_with_ctx, "boolean")
                keep = udf(
                    F.col("value"),
                    F.col("schema_type"),
                    F.col("id"),
                    F.coalesce(F.col("path"), F.lit([]).cast(PATH_TYPE)),
                    F.col("start"),
                )
            else:
                udf = pandas_udf(flt.fn, "boolean")
                keep = udf(F.col("value"), F.col("schema_type"))
        else:
            raise TypeError(f"unsupported filter: {type(flt).__name__}")
        return enriched.filter(keep).select(*cols)

    def _hop(self, qv: VertexQuery, end: str) -> _Compiled:
        """Edges whose ``end`` (``src`` for Out, ``dst`` for In) is in the
        vertex frontier of ``qv`` (vertex.outgoing/incoming,
        kv_graph_store.rs:271-285); the hop ``(vertex, edge)`` is appended
        to the path (into_edge_ctx, ql.rs:281-302)."""
        g = self.g
        if qv.kind == "Specific":
            # a hop straight off a literal set is a scan predicate on the
            # edges table (pushed to parquet), not a join
            edges = g.edges.filter(_sql_in(end, qv.args[0]))
            extra = [_hop_path(None, end), _NULL_START] if self.paths else []
            return _Compiled(edges.selectExpr("edge_id AS id", "src", "dst", *extra))
        c = self.compile_vq(qv)
        if self.paths:
            v = c.frontier
            joined = v.join(g.edges, v["id"] == g.edges[end])
            frontier = joined.selectExpr(
                "edge_id AS id", "src", "dst", _hop_path("path", "id"), "start"
            )
        else:
            # set semantics: a semi-join, so frontier duplicates never multiply
            frontier = self._e_leaf(g.edges).join(
                c.frontier.selectExpr(f"id AS {end}"), end, "leftsemi"
            )
        return _Compiled(frontier, c.v_store, c.e_store)

    # -- vertex queries → _Compiled(vertex frontier) -------------------------

    def compile_vq(self, q: VertexQuery) -> _Compiled:
        if q not in self._memo_v:
            self._memo_v[q] = self._compile_vq(q)
        return self._memo_v[q]

    def _compile_vq(self, q: VertexQuery) -> _Compiled:
        g = self.g
        if q.kind == "All":
            return _Compiled(self._v_leaf(g.vertices))
        if q.kind == "Specific":
            # the reference builds contexts without a store lookup
            # (kv_graph_store.rs:151-155) — nonexistent ids pass through
            return _Compiled(self._v_leaf(literal_frame(g.spark, q.args[0])))
        if q.kind == "Property":
            # no distinct: a vertex has exactly ONE direct property, so its
            # node-backlink appears once per semi-join match
            return _Compiled(self._v_leaf(self._refs(q.args[0], "node"), "ref_id"))
        if q.kind in ("Union", "Intersect", "Substract", "DisjunctiveUnion"):
            a, b = self.compile_vq(q.args[0]), self.compile_vq(q.args[1])
            return _Compiled(
                self._set_op(q.kind, a, b, q.args[1], "v"),
                _merge_store(a.v_store, b.v_store),
                _merge_store(a.e_store, b.e_store),
            )
        if q.kind in ("Out", "In"):
            # target (n2) or source vertices of the edge frontier
            # (kv_graph_store.rs:192-199)
            c = self.compile_eq(q.args[0])
            end = "dst" if q.kind == "Out" else "src"
            return _Compiled(
                c.frontier.selectExpr(f"{end} AS id", *self.v_cols[1:]),
                c.v_store,
                c.e_store,
            )
        if q.kind == "Filter":
            c = self.compile_vq(q.args[0])
            return _Compiled(
                self._apply_filter(c.frontier, q.args[1], "v"),
                c.v_store,
                c.e_store,
            )
        if q.kind == "Store":
            # documented semantics (query_language.adoc:662-695): stash the
            # current selection; a later Store replaces it ("old selection
            # will be lost"). Declared-but-unreachable in the reference.
            c = self.compile_vq(q.args[0])
            return _Compiled(c.frontier, c.frontier.select("id").distinct(), c.e_store)
        raise ValueError(f"unknown VertexQuery kind: {q.kind}")

    # -- edge queries → _Compiled(edge frontier) ------------------------------

    def compile_eq(self, q: EdgeQuery) -> _Compiled:
        if q not in self._memo_e:
            self._memo_e[q] = self._compile_eq(q)
        return self._memo_e[q]

    def _compile_eq(self, q: EdgeQuery) -> _Compiled:
        g = self.g
        if q.kind == "All":
            return _Compiled(self._e_leaf(g.edges))
        if q.kind == "Specific":
            ids = q.args[0]
            # left join: unknown edge ids still appear in the result set
            # (contexts are built without a lookup, kv_graph_store.rs:229-233)
            known = g.edges.filter(_sql_in("edge_id", ids)).withColumnRenamed("edge_id", "id")
            extra = [_NULL_PATH, "id AS start"] if self.paths else []
            frontier = literal_frame(g.spark, ids).join(known, "id", "left")
            return _Compiled(frontier.selectExpr("id", "src", "dst", *extra))
        if q.kind == "Property":
            # no distinct: an edge has exactly one direct property
            eids = self._refs(q.args[0], "edge").selectExpr("ref_id AS edge_id")
            return _Compiled(self._e_leaf(g.edges.join(eids, "edge_id", "leftsemi")))
        if q.kind in ("Union", "Intersect", "Substract", "DisjunctiveUnion"):
            a, b = self.compile_eq(q.args[0]), self.compile_eq(q.args[1])
            return _Compiled(
                self._set_op(q.kind, a, b, q.args[1], "e"),
                _merge_store(a.v_store, b.v_store),
                _merge_store(a.e_store, b.e_store),
            )
        if q.kind in ("Out", "In"):
            return self._hop(q.args[0], "src" if q.kind == "Out" else "dst")
        if q.kind == "Filter":
            c = self.compile_eq(q.args[0])
            return _Compiled(
                self._apply_filter(c.frontier, q.args[1], "e"),
                c.v_store,
                c.e_store,
            )
        if q.kind == "Store":
            c = self.compile_eq(q.args[0])
            return _Compiled(c.frontier, c.v_store, c.frontier.select("id").distinct())
        raise ValueError(f"unknown EdgeQuery kind: {q.kind}")


# ---------------------------------------------------------------------------
# Results
# ---------------------------------------------------------------------------

# a result id set: None (empty), a tuple of distinct literal ids, or a
# DF[id] that may repeat an id
_IdSet = Union[None, tuple, DataFrame]


def _shuffles(plan) -> bool:
    """Whether a (JVM) physical plan runs a shuffle exchange of its own.
    A cached table's plan is not a child of its scan, so a shuffle that
    built the cache does not count."""
    todo = [plan]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Exchange":  # ShuffleExchangeExec
            return True
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


def _keyed(table: DataFrame, col: str, ids: _IdSet) -> DataFrame:
    """Rows of ``table`` whose ``col`` is in ``ids``."""
    if isinstance(ids, tuple):
        return table.filter(_sql_in(col, ids))
    if col != "id":
        ids = ids.withColumnRenamed("id", col)
    return table.join(ids, col, "leftsemi")


class QueryResult:
    """Bundle of result DataFrames (QueryResult, ql.rs:360-374).

    - ``vertices``: DF[id] — matched vertex ids (+ Store'd vertices)
    - ``edges``: DF[id] — matched edge ids (+ Store'd edges)
    - ``paths``: DF[start, path, end]
    - ``properties``: DF[prop_hash] — for top-level P queries (the reference
      stubs these to empty, kv_graph_store.rs:307-317; we return matches)
    - ``variables``: pass-through map (no writer exists in the reference)

    The constructor takes each id set as ``None`` (empty), a tuple of
    distinct literal ids, or a DF[id] that may repeat an id; the
    ``vertices``/``edges`` frames are built from them on first read.
    ``extract_properties`` plans no branch for an empty set, reads a
    literal set as a scan predicate and a frame as a semi-join key set,
    so neither needs a distinct. ``paths`` is a callable that compiles
    the paths frame on first read (None: no paths).
    """

    def __init__(
        self,
        graph: PropertyGraph,
        vertices: _IdSet = None,
        edges: _IdSet = None,
        paths: Optional[Callable[[], DataFrame]] = None,
        properties: Optional[DataFrame] = None,
        variables: Optional[dict] = None,
    ):
        self.graph = graph
        self._v = vertices
        self._e = edges
        self._paths = paths
        self.properties = properties
        self.variables = variables or {}

    def _frame(self, ids: _IdSet) -> DataFrame:
        if ids is None or isinstance(ids, tuple):
            return literal_frame(self.graph.spark, ids or ())
        return ids.distinct()

    @cached_property
    def vertices(self) -> DataFrame:
        return self._frame(self._v)

    @cached_property
    def edges(self) -> DataFrame:
        return self._frame(self._e)

    @cached_property
    def paths(self) -> DataFrame:
        if self._paths is not None:
            return self._paths()
        return literal_frame(self.graph.spark, (), "start").selectExpr(
            "start", _NULL_PATH, "CAST(NULL AS string) AS end"
        )

    # -- extract_properties (kv_graph_store.rs:96-106) -----------------------

    def extract_properties(self) -> DataFrame:
        """Property payloads of matched vertices then edges: DF[kind, id,
        prop_hash, schema_type, value, tagged].

        A read whose static plan has no shuffle (every join a broadcast,
        as for point reads and short traversals off literal ids) comes
        back already planned without AQE. AQE only re-plans around
        shuffles; on such a plan it would run the broadcasts one query
        stage at a time and re-optimize between them, while the static
        plan runs them concurrently. Any other read is planned with AQE
        when it is collected."""
        df = self._properties()
        with _aqe_off(df.sparkSession):
            plan = df._jdf.queryExecution().executedPlan()
        # a DataFrame keeps the physical plan it was first planned with
        return self._properties() if _shuffles(plan) else df

    def _properties(self) -> DataFrame:
        g = self.graph
        vs, es = self._v, self._e
        if vs is None and es is None:
            vs = ()  # no rows, but the schema
        sides = ((vs, g.vertices, "id", "v"), (es, g.edges, "edge_id", "e"))
        payload = ["prop_hash", "schema_type", "value", "tagged"]
        parts = [
            _keyed(table, key, ids)
            .join(g.properties, "prop_hash")
            .selectExpr(f"'{kind}' AS kind", f"{key} AS id", *payload)
            for ids, table, key, kind in sides
            if ids is not None
        ]
        return reduce(DataFrame.unionByName, parts)

    # -- extract_path_properties (kv_graph_store.rs:108-137) ----------------

    def extract_path_properties(self) -> DataFrame:
        """One row per path with ``props: array<string>`` of tagged-JSON
        property values: ``[startProp?] ++ [vProp, eProp]* ++ [endProp?]``.

        The reference inserts start/end *inside* its per-hop fold
        (kv_graph_store.rs:119-131), so an empty path yields [] even when
        start/end are set, and multi-hop paths would duplicate start/end;
        its tests only exercise 0- and 1-hop paths. We reproduce the tested
        behavior (empty path → []) and the sane ordering for multi-hop.
        """
        g = self.graph
        v_props = g.vertices.join(g.properties, "prop_hash").select(
            F.col("id").alias("_vid"), F.col("tagged").alias("_v_tagged")
        )
        e_props = g.edges.join(g.properties, "prop_hash").select(
            F.col("edge_id").alias("_eid"), F.col("tagged").alias("_e_tagged")
        )

        # paths rows are distinct, so (start, path, end) keys the per-path
        # fold: one pass over paths, no row id and no cached copy
        key = ["start", "path", "end"]
        steps = (
            self.paths.select(*key, F.posexplode_outer("path").alias("pos", "step"))
            .join(v_props, F.col("step.v") == F.col("_vid"), "left")
            .join(e_props, F.col("step.e") == F.col("_eid"), "left")
            .groupBy(*key)
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("pos"),
                                    F.array("_v_tagged", "_e_tagged").alias("pair"),
                                )
                            )
                        ),
                        lambda s: s.pair,
                    )
                ).alias("step_props")
            )
        )

        start_props = e_props.select(
            F.col("_eid").alias("start"), F.col("_e_tagged").alias("_start_tagged")
        )
        end_props = v_props.select(
            F.col("_vid").alias("end"), F.col("_v_tagged").alias("_end_tagged")
        )

        out = (
            steps.join(start_props, "start", "left")
            .join(end_props, "end", "left")
            .withColumn(
                "props",
                F.when(
                    F.col("path").isNull() | (F.size("path") == 0),
                    F.array().cast("array<string>"),
                ).otherwise(
                    F.concat(
                        F.when(
                            F.col("_start_tagged").isNotNull(),
                            F.array("_start_tagged"),
                        ).otherwise(F.array().cast("array<string>")),
                        F.col("step_props"),
                        F.when(
                            F.col("_end_tagged").isNotNull(), F.array("_end_tagged")
                        ).otherwise(F.array().cast("array<string>")),
                    )
                ),
            )
        )
        return out.select("start", "path", "end", "props")


def execute(graph: PropertyGraph, query) -> QueryResult:
    """Compile + wrap. ``query`` may be a BasicQuery or any of the three
    query families (auto-dispatched like kv_graph_store.rs:79-94)."""
    q = BasicQuery.of(query)
    if q.kind == "P":
        props = _Compiler(graph).compile_pq(q.query).distinct()
        return QueryResult(graph, properties=props)
    if q.kind not in ("V", "E"):
        raise ValueError(f"unknown BasicQuery kind: {q.kind}")
    # result sets need no paths unless a filter reads its path context;
    # ``paths`` is compiled on first read
    comp = _Compiler(graph, paths=_reads_paths(q.query))
    if q.query.kind == "Specific":
        # a top-level literal set is its own result: no lookup, no distinct
        found, v_store, e_store = tuple(dict.fromkeys(q.query.args[0])), None, None
    else:
        c = comp.compile_vq(q.query) if q.kind == "V" else comp.compile_eq(q.query)
        found, v_store, e_store = comp.ids(c.frontier, q.kind.lower()), c.v_store, c.e_store
    own, other = (v_store, e_store) if q.kind == "V" else (e_store, v_store)
    if own is not None:
        found = found.unionByName(own)
    vertices, edges = (found, other) if q.kind == "V" else (other, found)
    return QueryResult(graph, vertices, edges, paths=lambda: _paths(graph, q, comp))


def _paths(graph: PropertyGraph, q: BasicQuery, comp: _Compiler) -> DataFrame:
    """All distinct paths of a V/E query (a deterministic superset of the
    reference's one-arbitrary-path-per-id, SURVEY.md §7 hard-part 2)."""
    if not comp.paths:
        comp = _Compiler(graph, paths=True)
    if q.kind == "V":
        frontier, end = comp.compile_vq(q.query).frontier, "id"
    else:
        frontier, end = comp.compile_eq(q.query).frontier, "CAST(NULL AS string)"
    return frontier.selectExpr("start", "path", f"{end} AS end").dropDuplicates()

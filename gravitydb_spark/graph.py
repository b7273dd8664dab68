"""The property graph as four DataFrames + batch-first CRUD.

Storage mapping (SURVEY.md §1.3; reference layout at
docs/key_value_store.adoc:14-33, kv_graph_store.rs:791-847):

- ``vertices(id, prop_hash)`` — adjacency is NOT materialized on the vertex
  (the reference keeps mutable incoming/outgoing sets on each node record,
  kv_graph_store.rs:798-802); in Spark adjacency is derived from ``edges``
  by an equi-join, which avoids mutable state and lets Catalyst pick the
  join strategy.
- ``edges(edge_id, src, dst, prop_hash)`` — directed, content-addressed id
  (duplicate same-endpoints+props edges collapse, kv_graph_store.rs:832-835).
- ``properties(prop_hash, schema_type, value, tagged)`` — content-addressed,
  deduplicated, immutable (docs/key_value_store.adoc:59-75). ``value`` is
  the canonical-JSON payload, ``tagged`` the externally-tagged form used
  for golden comparisons.
- ``prop_refs(prop_hash, ref_kind, ref_id)`` — the inverted property index
  *and* the GC refcount, replacing the reference's ``indexes/<hash>/...``
  backlink tree (kv_graph_store.rs:372-404). ``ref_kind ∈ {node,edge,prop}``,
  ``ref_id`` = the referencing element.

Mutations are batch-first and functional: every CRUD call returns a new
``PropertyGraph`` with the same base (the origin's four frames) and a
new ``GraphDelta``, the one record of the transaction; each table is
derived from the two by :func:`_derive`, so a table's plan has the same
size after any number of CRUD calls.
The observable end-state matches the reference's per-op upkeep; property GC
runs as an explicit refcount job (``gc()``) instead of per-op refcounting —
the right trade at scale (SURVEY.md §7 hard-part 4).

Divergence (implemented per-doc, flagged): ``delete_nodes`` cascades
incident edges as the docs intend (docs/key_value_store.adoc:543-544); the
reference code leaves dangling edges (kv_graph_store.rs:584-602).
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import ClassVar, Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .hashing import edge_hash
from .schema import DEFAULT_SCHEMA, Prop, Schema

__all__ = [
    "GraphBatchBuilder",
    "GraphDelta",
    "NodeExistsError",
    "PropertyGraph",
    "literal_frame",
]

VERTICES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("prop_hash", T.StringType(), False),
    ]
)
EDGES_SCHEMA = T.StructType(
    [
        T.StructField("edge_id", T.StringType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("prop_hash", T.StringType(), False),
    ]
)
PROPERTIES_SCHEMA = T.StructType(
    [
        T.StructField("prop_hash", T.StringType(), False),
        T.StructField("schema_type", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("tagged", T.StringType(), True),
    ]
)
PROP_REFS_SCHEMA = T.StructType(
    [
        T.StructField("prop_hash", T.StringType(), False),
        T.StructField("ref_kind", T.StringType(), False),
        T.StructField("ref_id", T.StringType(), False),
    ]
)

_TABLES = ("vertices", "edges", "properties", "prop_refs")
SCHEMAS = {
    "vertices": VERTICES_SCHEMA,
    "edges": EDGES_SCHEMA,
    "properties": PROPERTIES_SCHEMA,
    "prop_refs": PROP_REFS_SCHEMA,
}
# the columns a delta retracts by, per table
_KEYS = {
    "vertices": ["id"],
    "edges": ["edge_id"],
    "properties": ["prop_hash"],
    "prop_refs": ["ref_kind", "ref_id"],
}
# at most this many rows per table ride a delta (and one driver-side
# collect); beyond it a graph folds its delta into its base, forgets its
# provenance and commits by cluster write
ARROW_COMMIT_CAP = 100_000


def literal_rows(spark: SparkSession, rows: Sequence[Sequence[str]], names: Sequence[str]) -> DataFrame:
    """Driver-side string rows as a ``LocalRelation`` with columns
    ``names`` (see :func:`literal_frame`; collecting it runs no job)."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(names)
    return spark.createDataFrame(
        pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)})
    )


def literal_frame(spark: SparkSession, values: Iterable[str], col: str = "id") -> DataFrame:
    """A driver-side string set as a one-column ``LocalRelation``.

    Built from an Arrow table, so the plan holds the rows themselves and
    the optimizer knows their exact size: a join broadcasts this side,
    not the table it probes, and an empty set lets
    ``PropagateEmptyRelation`` drop every branch it feeds.
    (``createDataFrame`` of a Python list is a ``Scan ExistingRDD`` with
    no size statistics.) Duplicates are dropped, first occurrence kept."""
    return literal_rows(spark, [(v,) for v in dict.fromkeys(values)], [col])


@dataclass(frozen=True)
class GraphDelta:
    """What a graph changed relative to its origin, kept on the driver by
    the CRUD methods: the one record of a transaction. The graph's tables
    are derived from it (:func:`_derive`) and a commit writes it
    (``transaction._write_table``).

    ``origin`` is the snapshot directory the graph was loaded from,
    ``EMPTY`` for the empty graph (``empty()``, a ``GraphBatchBuilder``
    graph), or None when the provenance is unknown (the origin is
    whatever frames the graph was given). The graph is the origin minus
    every retracted row, plus ``added``:

    - ``added[table]`` maps a row key to the row (for ``prop_refs`` the
      key is the whole row); an added row replaces an origin row with
      the same key, which content addressing makes the same row;
    - ``retracted[table]`` holds origin keys: ``id``, ``edge_id``,
      ``prop_hash``, or ``(ref_kind, ref_id)`` for ``prop_refs``;
    - ``endpoints`` are deleted vertex ids whose origin edges cascade,
      and the backlinks of those edges with them.

    A retraction also removes the matching added rows, and an add after
    a retraction survives it, so the delta folds the CRUD calls in
    order."""

    EMPTY: ClassVar[str] = ""
    origin: Optional[str]
    added: dict = field(default_factory=lambda: {t: {} for t in _TABLES})
    retracted: dict = field(default_factory=lambda: {t: frozenset() for t in _TABLES})
    endpoints: frozenset = frozenset()

    def size(self) -> int:
        """Rows and keys a commit must carry for the largest table
        (``endpoints`` are retracted vertex keys too)."""
        return max(len(self.added[t]) + len(self.retracted[t]) for t in _TABLES)

    def touches(self, table: str) -> bool:
        """Whether ``table`` differs from its origin rows."""
        cascade = table in ("edges", "prop_refs") and self.endpoints
        return bool(self.added[table] or self.retracted[table] or cascade)

    def add(self, table: str, rows: Iterable[tuple]) -> "GraphDelta":
        cur = dict(self.added[table])
        for row in map(tuple, rows):  # every other table's key is its first column
            cur.setdefault(row if table == "prop_refs" else row[0], row)
        return replace(self, added={**self.added, table: cur})

    def retract(self, table: str, keys: Iterable) -> "GraphDelta":
        keys = frozenset(keys)
        if table == "prop_refs":
            kept = {k: r for k, r in self.added[table].items() if r[1:] not in keys}
        else:
            kept = {k: r for k, r in self.added[table].items() if k not in keys}
        return replace(
            self,
            added={**self.added, table: kept},
            retracted={**self.retracted, table: self.retracted[table] | keys},
        )

    def drop_incident_edges(self, vertex_ids: Iterable[str]) -> "GraphDelta":
        ids = frozenset(vertex_ids)
        gone = [k for k, r in self.added["edges"].items() if r[1] in ids or r[2] in ids]
        d = self.retract("edges", gone).retract("prop_refs", [("edge", e) for e in gone])
        return replace(d, endpoints=self.endpoints | ids)


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str, default: str = "true"):
    """Set one boolean session conf for the duration of a block,
    restoring the previous value (``default`` when unset) in
    ``finally``. The conf is session-global; every caller here runs its
    actions sequentially on its session."""
    prev = spark.conf.get(key, default)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _aqe_off(spark: SparkSession):
    """Scope-disable AQE around ONE bounded driver-side collect (r14,
    guide §1.2/§5): a KB-sized collect pays one AQE stage-job per
    exchange (measured 5 jobs/3.0s vs 1 job/0.06s for a fused union)
    and adaptivity buys nothing — the result is collected whole."""
    return _scoped_conf(spark, "spark.sql.adaptive.enabled", "false")


class NodeExistsError(Exception):
    """Mirror of Error::NodeExists (kv_graph_store.rs:545-547)."""


def _prop_rows(prop: Prop, schema: Schema):
    """properties rows + (prop-nesting) prop_refs rows for one property's
    nested closure (create_property recursion, kv_graph_store.rs:710-734)."""
    props = {
        prop.hash: (prop.hash, prop.schema_type, prop.value_json, prop.tagged_json)
    }
    refs = []
    for parent, child in schema.closure(prop):
        props[child.hash] = (
            child.hash,
            child.schema_type,
            child.value_json,
            child.tagged_json,
        )
        refs.append((child.hash, "prop", parent.hash))
    return list(props.values()), refs


def _derive(spark: SparkSession, base: dict, d: GraphDelta, table: str) -> DataFrame:
    """Table ``table`` of the graph that is ``base`` (the origin's four
    frames) plus ``d``: the base rows no key of ``d`` retracts or adds
    again (for ``edges`` none incident to ``d.endpoints``, for
    ``prop_refs`` no backlink of such an edge), then the added rows. The
    key sets and rows are literal ``LocalRelation``s, so the plan has one
    shape however many CRUD calls ``d`` folds. A table ``d`` leaves alone
    is the base frame itself. The one place a graph's tables are made;
    ``transaction._write_table`` applies the same delta to files."""
    df = base[table]
    if not d.touches(table):
        return df
    names = SCHEMAS[table].names

    def minus(df, keys, cols):
        if not keys:
            return df
        rows = [k if isinstance(k, tuple) else (k,) for k in keys]
        return df.join(F.broadcast(literal_rows(spark, rows, cols)), cols, "leftanti")

    if d.origin != GraphDelta.EMPTY:  # the empty graph has no rows to retract
        df = minus(df, d.retracted[table], _KEYS[table])
        # an added row stands for its base twin (a prop_refs row is its own key)
        df = minus(df, d.added[table], names if table == "prop_refs" else _KEYS[table])
        if table == "edges":
            df = minus(minus(df, d.endpoints, ["src"]), d.endpoints, ["dst"])
        if table == "prop_refs" and d.endpoints:
            ends = F.broadcast(literal_frame(spark, d.endpoints))
            src, dst = (
                base["edges"].join(ends, F.col(c) == F.col("id"), "leftsemi")
                for c in ("src", "dst")
            )
            gone = src.unionByName(dst).select(
                F.lit("edge").alias("ref_kind"), F.col("edge_id").alias("ref_id")
            )
            df = df.join(gone, ["ref_kind", "ref_id"], "leftanti")
    df = df.select(*names)
    if d.added[table]:
        df = df.unionByName(literal_rows(spark, list(d.added[table].values()), names))
    return df


class PropertyGraph:
    """A graph is its base, the origin's four frames (snapshot scans for
    ``load``, empty frames for ``empty()`` and ``GraphBatchBuilder.build``,
    the given frames otherwise), plus its ``GraphDelta``. Each table is
    derived from the two on first access (:func:`_derive`); a delta that
    leaves a table alone gives the base frame itself, so read plans of a
    loaded graph are its scans. The CRUD methods check against the
    derived tables and otherwise only edit the delta."""

    def __init__(
        self,
        spark: SparkSession,
        vertices: DataFrame,
        edges: DataFrame,
        properties: DataFrame,
        prop_refs: DataFrame,
        schema: Schema | None = None,
        delta: Optional[GraphDelta] = None,
    ):
        self.spark = spark
        self.base = dict(zip(_TABLES, (vertices, edges, properties, prop_refs)))
        self.schema = schema or DEFAULT_SCHEMA
        # None: the given frames are the origin, of unknown provenance
        self.delta = GraphDelta(None) if delta is None else delta
        self._tables: dict = {}

    def _table(self, table: str) -> DataFrame:
        if table not in self._tables:
            self._tables[table] = _derive(self.spark, self.base, self.delta, table)
        return self._tables[table]

    vertices = property(lambda self: self._table("vertices"))
    edges = property(lambda self: self._table("edges"))
    properties = property(lambda self: self._table("properties"))
    prop_refs = property(lambda self: self._table("prop_refs"))

    # -- construction -------------------------------------------------------

    @staticmethod
    def empty(spark: SparkSession, schema: Schema | None = None) -> "PropertyGraph":
        return PropertyGraph(
            spark,
            *(literal_rows(spark, [], SCHEMAS[t].names) for t in _TABLES),
            schema or DEFAULT_SCHEMA,
            GraphDelta(GraphDelta.EMPTY),
        )

    @staticmethod
    def load(spark: SparkSession, path: str, schema: Schema | None = None) -> "PropertyGraph":
        """Read a saved graph. The table schemas are given, not inferred,
        so a load runs no Spark job and every table has its schema's
        column order whatever order its files were written in."""
        return PropertyGraph(
            spark,
            *(spark.read.schema(SCHEMAS[t]).parquet(f"{path}/{t}") for t in _TABLES),
            schema or DEFAULT_SCHEMA,
            GraphDelta(os.path.realpath(path)),
        )

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Persist as parquet. At scale: edges are the big table — write them
        hash-distributed by ``src`` so out-traversals co-locate, and
        properties by hash so content lookups prune."""
        self.vertices.repartition("id").write.mode(mode).parquet(f"{path}/vertices")
        self.edges.repartition("src").write.mode(mode).parquet(f"{path}/edges")
        self.properties.repartition("prop_hash").write.mode(mode).parquet(
            f"{path}/properties"
        )
        self.prop_refs.repartition("prop_hash").write.mode(mode).parquet(
            f"{path}/prop_refs"
        )

    def save_bucketed(self, prefix: str, buckets: int = 64) -> None:
        """Persist as BUCKETED catalog tables (``<prefix>_vertices`` etc.):
        edges bucketed+sorted by ``src``, vertices by ``id``, properties and
        prop_refs by ``prop_hash``. Traversal joins on the bucket key then
        read pre-shuffled data — no exchange on the bucketed side (the
        co-located-join strategy from SCALE.md §1; at 100 TB this is the
        difference between shuffling the edge table per query and never
        shuffling it)."""
        import shutil
        from urllib.parse import urlparse

        warehouse = urlparse(self.spark.conf.get("spark.sql.warehouse.dir")).path
        writes = [
            (self.vertices, "vertices", "id"),
            (self.edges, "edges", "src"),
            (self.properties, "properties", "prop_hash"),
            (self.prop_refs, "prop_refs", "prop_hash"),
        ]
        for df, name, key in writes:
            table = f"{prefix}_{name}"
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            # a managed-table location left behind by a PREVIOUS session is
            # unknown to this session's in-memory catalog and blocks the
            # write (LOCATION_ALREADY_EXISTS) — clear it
            shutil.rmtree(f"{warehouse}/{table}", ignore_errors=True)
            (
                df.write.mode("overwrite")
                .bucketBy(buckets, key)
                .sortBy(key)
                .format("parquet")
                .saveAsTable(table)
            )

    @staticmethod
    def load_bucketed(
        spark: SparkSession, prefix: str, schema: Schema | None = None
    ) -> "PropertyGraph":
        return PropertyGraph(
            spark,
            *(spark.table(f"{prefix}_{t}") for t in _TABLES),
            schema or DEFAULT_SCHEMA,
        )

    def cache(self) -> "PropertyGraph":
        for df in (self.vertices, self.edges, self.properties, self.prop_refs):
            df.cache()
        return self

    def _with(self, **tables: DataFrame) -> "PropertyGraph":
        """A graph of unknown provenance whose origin is ``tables`` and,
        for the tables not given, this graph's tables."""
        return PropertyGraph(
            self.spark,
            *(tables[t] if t in tables else getattr(self, t) for t in _TABLES),
            self.schema,
        )

    def _edit(self, delta: GraphDelta) -> "PropertyGraph":
        """This graph's base under ``delta``. A delta above
        ``ARROW_COMMIT_CAP`` folds: the derived tables become the base of
        a graph of unknown provenance."""
        g = PropertyGraph(self.spark, *self.base.values(), self.schema, delta)
        return g._with() if delta.size() > ARROW_COMMIT_CAP else g

    # -- point reads / listings (PropertyGraphReader, lib.rs:80-104) --------

    def read_node(self, vertex_id: str):
        return self.vertices.filter(F.col("id") == vertex_id).first()

    def read_edge(self, edge_id: str):
        return self.edges.filter(F.col("edge_id") == edge_id).first()

    def read_property(self, prop_hash: str):
        return self.properties.filter(F.col("prop_hash") == prop_hash).first()

    def node_adjacency(self, vertex_ids: Sequence[str]) -> DataFrame:
        """Derived incoming/outgoing edge sets (the reference materializes
        these on the node record; we derive them with one pass over edges)."""
        ids = literal_frame(self.spark, vertex_ids)
        out = (
            self.edges.join(F.broadcast(ids), F.col("src") == F.col("id"))
            .select("id", F.col("edge_id"), F.lit("outgoing").alias("direction"))
        )
        inc = (
            self.edges.join(F.broadcast(ids), F.col("dst") == F.col("id"))
            .select("id", F.col("edge_id"), F.lit("incoming").alias("direction"))
        )
        return out.unionByName(inc)

    # -- CRUD (GraphStore, kv_graph_store.rs:531-752) ------------------------

    def _assert_new_node_ids(self, ids: list[str]) -> None:
        ids_df = literal_frame(self.spark, ids)
        clash = self.vertices.join(F.broadcast(ids_df), "id", "leftsemi").limit(1).collect()
        if clash:
            raise NodeExistsError(f"node {clash[0]['id']} already exists")

    def create_nodes(
        self, items: Iterable[tuple[Optional[str], Prop]]
    ) -> tuple["PropertyGraph", list[str]]:
        """Batch create_node (kv_graph_store.rs:531-553): errors if any id
        exists, in the graph or earlier in the batch (as sequential
        create_node calls would), dedups property content, writes index
        backlinks."""
        b = GraphBatchBuilder(self.schema)
        ids = [b.add_node(prop, id=vid) for vid, prop in items]
        self._assert_new_node_ids(ids)
        return self._edit(b.added_to(self.delta)), ids

    def get_or_create_nodes(
        self, items: Iterable[tuple[Optional[str], Prop]]
    ) -> tuple["PropertyGraph", list[str]]:
        """CLI --get-or-create semantics (cli_helpers.rs:137-160): probe the
        property index for an existing node with identical property content;
        create only the misses. Returns ids in input order (existing id for
        hits, fresh for misses)."""
        items = list(items)
        h_df = literal_frame(self.spark, (p.hash for _, p in items), "prop_hash")
        existing = {
            r["prop_hash"]: r["ref_id"]
            for r in self.prop_refs.filter(F.col("ref_kind") == "node")
            .join(F.broadcast(h_df), "prop_hash", "leftsemi")
            .groupBy("prop_hash")
            .agg(F.min("ref_id").alias("ref_id"))
            .collect()
        }
        # dedupe misses by content hash WITHIN the batch: the reference CLI
        # path is sequential, so a second identical item returns the first's
        # id — mirror that by creating one node per distinct missing content
        # and mapping every item with that hash to it
        to_create, seen = [], set()
        for vid, p in items:
            if p.hash not in existing and p.hash not in seen:
                seen.add(p.hash)
                to_create.append((vid, p))
        g, created = (self.create_nodes(to_create) if to_create else (self, []))
        created_by_hash = {
            p.hash: cid for (_, p), cid in zip(to_create, created)
        }
        out = [
            existing[p.hash] if p.hash in existing else created_by_hash[p.hash]
            for _, p in items
        ]
        return g, out

    def update_nodes(
        self, items: Iterable[tuple[str, Prop]]
    ) -> "PropertyGraph":
        """Batch update_node (kv_graph_store.rs:555-582): swap the node's
        property; old property rows become garbage collected by ``gc()``.
        A repeated id keeps its last property, as sequential calls would."""
        items = dict(items)
        # reference semantics: updating a nonexistent node is an error
        # (update_node does read_node first, kv_graph_store.rs:555-560)
        ids = list(items)
        ids_df = literal_frame(self.spark, ids)
        missing = ids_df.join(self.vertices, "id", "leftanti").limit(1).collect()
        if missing:
            raise KeyError(f"update_nodes: node {missing[0]['id']} does not exist")
        b = GraphBatchBuilder(self.schema)
        for vid, prop in items.items():
            b.add_node(prop, id=vid)
        # drop the old node->prop backlinks, add the new ones
        delta = self.delta.retract("vertices", ids).retract("prop_refs", [("node", i) for i in ids])
        return self._edit(b.added_to(delta))

    def delete_nodes(self, vertex_ids: Sequence[str], cascade: bool = True) -> "PropertyGraph":
        """Batch delete_node. ``cascade=True`` removes incident edges — the
        *documented* behavior (docs/key_value_store.adoc:543-544); the
        reference code leaves them dangling (kv_graph_store.rs:584-602) —
        pass ``cascade=False`` to replicate that."""
        ids = list(vertex_ids)
        delta = self.delta.retract("vertices", ids).retract("prop_refs", [("node", i) for i in ids])
        return self._edit(delta.drop_incident_edges(ids) if cascade else delta)

    def create_edges(
        self, items: Iterable[tuple[str, str, Prop]]
    ) -> tuple["PropertyGraph", list[str]]:
        """Batch create_edge (kv_graph_store.rs:604-655). Content-addressed
        ids: duplicate (src, dst, props) collapse to one edge. No adjacency
        upkeep needed (derived)."""
        b = GraphBatchBuilder(self.schema)
        ids = [b.add_edge(s, d, prop) for s, d, prop in items]
        return self._edit(b.added_to(self.delta)), ids

    def delete_edges(self, edge_ids: Sequence[str]) -> "PropertyGraph":
        ids = list(edge_ids)
        return self._edit(
            self.delta.retract("edges", ids).retract("prop_refs", [("edge", e) for e in ids])
        )

    def gc(self, max_iters: int = 10) -> "PropertyGraph":
        """Refcount GC of unreferenced properties as a batch job.

        The reference refcounts per-op via index backlinks
        (kv_graph_store.rs:388-404,736-752); at scale a periodic anti-join
        fixpoint is cheaper. A property is live iff it has ≥1 prop_refs row;
        deleting a dead parent drops its nesting refs, which may orphan
        children — iterate to fixpoint (depth = nesting depth, tiny).

        Each round collects its dead hashes (at most ARROW_COMMIT_CAP+1)
        and retracts them in the delta, so the next round's tables are
        derived again from the base and every hash retracted so far. A
        round with more dead hashes than the cap folds the graph: its
        tables, minus those hashes as a lazy frame, become the base of a
        graph of unknown provenance."""
        g = self
        for _ in range(max_iters):
            dead = g.properties.join(
                g.prop_refs.select("prop_hash").distinct(), "prop_hash", "leftanti"
            ).select("prop_hash")
            hashes = [r[0] for r in dead.limit(ARROW_COMMIT_CAP + 1).collect()]
            if not hashes:
                break
            if len(hashes) <= ARROW_COMMIT_CAP:
                refs = [(k, h) for h in hashes for k in ("node", "edge", "prop")]
                g = g._edit(g.delta.retract("properties", hashes).retract("prop_refs", refs))
                continue
            g = g._with(
                properties=g.properties.join(dead, "prop_hash", "leftanti"),
                prop_refs=g.prop_refs.join(
                    dead.select(F.col("prop_hash").alias("ref_id")), "ref_id", "leftanti"
                ).select(*PROP_REFS_SCHEMA.names),
            )
        return g

    # -- integrity (planned CLI db_info/doctor, backends_filestore.adoc) ----

    def db_info(self) -> dict:
        return {
            "nodes": self.vertices.count(),
            "edges": self.edges.count(),
            "properties": self.properties.count(),
            "prop_refs": self.prop_refs.count(),
        }

    def doctor(self) -> dict[str, DataFrame]:
        """Integrity audit (the reference's planned ``doctor`` verb,
        docs/backends_filestore.adoc:969-973 — "checks the database is
        valid and lists errors"; TODO-stubbed there, implemented here).

        Five checks, each one anti-join (so the whole audit is a handful
        of shuffle-free broadcast/semi passes over the four tables):

        - ``dangling_edges``       — edges whose src or dst vertex is gone
          (the reference's non-cascading delete_node leaves these,
          kv_graph_store.rs:584-602)
        - ``missing_properties``   — vertices/edges whose prop_hash has no
          properties row (content blob lost)
        - ``stale_refs``           — prop_refs backlinks whose referrer
          (node/edge/parent property) no longer exists (refcount audit:
          these rows keep garbage alive)
        - ``missing_refs``         — vertices/edges with NO backlink row
          (refcount audit: property-index lookups can't find them)
        - ``orphaned_properties``  — properties rows with zero backlinks
          (dead content a ``gc()`` would collect)

        Returns {check_name: violation DataFrame} — empty DataFrames mean
        a healthy store.
        """
        v, e, p, r = self.vertices, self.edges, self.properties, self.prop_refs
        vids = v.select("id")
        dangling_edges = (
            e.join(vids.withColumnRenamed("id", "src"), "src", "leftanti")
            .unionByName(e.join(vids.withColumnRenamed("id", "dst"), "dst", "leftanti"))
            .dropDuplicates(["edge_id"])
        )
        phashes = p.select("prop_hash")
        missing_properties = (
            v.select(F.lit("node").alias("kind"), F.col("id").alias("ref_id"), "prop_hash")
            .unionByName(
                e.select(
                    F.lit("edge").alias("kind"),
                    F.col("edge_id").alias("ref_id"),
                    "prop_hash",
                )
            )
            .join(phashes, "prop_hash", "leftanti")
        )
        referrers = (
            v.select(F.lit("node").alias("ref_kind"), F.col("id").alias("ref_id"))
            .unionByName(
                e.select(F.lit("edge").alias("ref_kind"), F.col("edge_id").alias("ref_id"))
            )
            .unionByName(
                p.select(F.lit("prop").alias("ref_kind"), F.col("prop_hash").alias("ref_id"))
            )
        )
        stale_refs = r.join(referrers, ["ref_kind", "ref_id"], "leftanti")
        node_refs = r.filter(F.col("ref_kind") == "node").select(
            F.col("ref_id").alias("id")
        )
        edge_refs = r.filter(F.col("ref_kind") == "edge").select(
            F.col("ref_id").alias("edge_id")
        )
        missing_refs = (
            v.join(node_refs, "id", "leftanti")
            .select(F.lit("node").alias("kind"), F.col("id").alias("ref_id"), "prop_hash")
            .unionByName(
                e.join(edge_refs, "edge_id", "leftanti").select(
                    F.lit("edge").alias("kind"),
                    F.col("edge_id").alias("ref_id"),
                    "prop_hash",
                )
            )
        )
        orphaned_properties = p.join(
            r.select("prop_hash").distinct(), "prop_hash", "leftanti"
        ).select("prop_hash", "schema_type")
        return {
            "dangling_edges": dangling_edges,
            "missing_properties": missing_properties,
            "stale_refs": stale_refs,
            "missing_refs": missing_refs,
            "orphaned_properties": orphaned_properties,
        }


class GraphBatchBuilder:
    """Accumulate nodes/edges driver-side, emit them as a graph.

    This is the literal/ingest path (GraphBuilder trait, lib.rs:67-77).
    For bulk ingest from existing DataFrames use
    ``gravitydb_spark.sources.ingest`` instead — this builder is for
    fixtures, tests, and small CRUD batches.
    """

    def __init__(self, schema: Schema | None = None):
        self.schema = schema or DEFAULT_SCHEMA
        self._vertices: dict[str, tuple[str, str]] = {}
        self._edges: dict[str, tuple[str, str, str, str]] = {}
        self._properties: dict[str, tuple[str, str, str, str]] = {}
        self._prop_refs: set[tuple[str, str, str]] = set()

    def _register_prop(self, prop: Prop) -> str:
        props, refs = _prop_rows(prop, self.schema)
        for row in props:
            self._properties[row[0]] = row
        self._prop_refs.update(refs)
        return prop.hash

    def add_node(self, prop: Prop, id: Optional[str] = None) -> str:
        """Add a node; an explicit ``id`` the batch already holds raises
        ``NodeExistsError``, as a second create_node would."""
        if id is not None and id in self._vertices:
            raise NodeExistsError(f"node {id} already exists")
        vid = id or str(uuid.uuid4())
        ph = self._register_prop(prop)
        self._vertices[vid] = (vid, ph)
        self._prop_refs.add((ph, "node", vid))
        return vid

    def add_edge(self, src: str, dst: str, prop: Prop) -> str:
        ph = self._register_prop(prop)
        eid = edge_hash(src, dst, ph)
        self._edges[eid] = (eid, src, dst, ph)
        self._prop_refs.add((ph, "edge", eid))
        return eid

    def added_to(self, delta: GraphDelta) -> GraphDelta:
        """``delta`` plus this batch's rows."""
        return (
            delta.add("vertices", self._vertices.values())
            .add("edges", self._edges.values())
            .add("properties", self._properties.values())
            .add("prop_refs", sorted(self._prop_refs))
        )

    def build(self, spark: SparkSession) -> PropertyGraph:
        """The batch as the empty graph plus its rows: each table is a
        ``LocalRelation``, and a commit writes the rows without a Spark
        job."""
        g = PropertyGraph.empty(spark, self.schema)
        return g._edit(self.added_to(g.delta))

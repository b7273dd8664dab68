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
``PropertyGraph`` whose DataFrames are lazy transforms over the old ones.
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
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .hashing import canonical_json, edge_hash, tagged_property
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
# at most this many rows per table ride a delta (and one driver-side
# collect); beyond it a graph forgets its delta and commits by cluster write
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
    """What a graph changed relative to its origin snapshot, kept on the
    driver by the CRUD methods so a commit writes only the change.

    ``origin`` is the snapshot directory the graph was loaded from, or
    None for the empty graph (a ``GraphBatchBuilder`` graph). The graph
    is ``origin`` minus every retracted row, plus ``added``:

    - ``added[table]`` maps a row key to the row (for ``prop_refs`` the
      key is the whole row); rows already in the origin are dropped at
      commit, as the CRUD unions' ``dropDuplicates`` drop them;
    - ``retracted[table]`` holds origin keys: ``id``, ``edge_id``,
      ``prop_hash``, or ``(ref_kind, ref_id)`` for ``prop_refs``;
    - ``endpoints`` are deleted vertex ids whose origin edges cascade
      (the commit finds those edges, and retracts their backlinks).

    A retraction also removes the matching added rows, and an add after
    a retraction survives it, so the delta folds the CRUD calls in
    order."""

    origin: Optional[str]
    added: dict = field(default_factory=lambda: {t: {} for t in _TABLES})
    retracted: dict = field(default_factory=lambda: {t: frozenset() for t in _TABLES})
    endpoints: frozenset = frozenset()

    def size(self) -> int:
        """Rows and keys a commit must carry for the largest table
        (``endpoints`` are retracted vertex keys too)."""
        return max(len(self.added[t]) + len(self.retracted[t]) for t in _TABLES)

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


def _cut(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` with constraint propagation
    scoped OFF during the checkpoint's plan finalization (r14): cutting
    a union whose children reuse an already-checkpointed frame's
    attribute ids trips a Catalyst bug in
    ``UnionBase.rewriteConstraints`` ("key not found: id#...") — the
    CRUD/changeset tables are exactly that shape. Constraints only feed
    the optimizer's filter inference; the cut plan is KB-sized CRUD
    state, so nothing is lost. localCheckpoint plans at call time, so
    the toggle scopes exactly the one plan."""
    with _scoped_conf(df.sparkSession, "spark.sql.constraintPropagation.enabled", "false"):
        return df.localCheckpoint(eager=False)


def _drop_refs(prop_refs: DataFrame, kind: str, ids: DataFrame) -> DataFrame:
    """``prop_refs`` minus the backlinks of the ``kind`` referrers whose
    ids are the one column of ``ids``, in ``PROP_REFS_SCHEMA`` order."""
    keys = ids.select(F.lit(kind).alias("ref_kind"), F.col(ids.columns[0]).alias("ref_id"))
    return prop_refs.join(F.broadcast(keys), ["ref_kind", "ref_id"], "leftanti").select(
        *PROP_REFS_SCHEMA.names
    )


@dataclass
class PropertyGraph:
    spark: SparkSession
    vertices: DataFrame
    edges: DataFrame
    properties: DataFrame
    prop_refs: DataFrame
    schema: Schema = None  # type: ignore[assignment]
    # the change since the origin snapshot (GraphDelta); None when the
    # provenance is unknown (ingest, merge, apply_change, over the cap)
    delta: Optional[GraphDelta] = None

    def __post_init__(self):
        if self.schema is None:
            self.schema = DEFAULT_SCHEMA

    # -- construction -------------------------------------------------------

    @staticmethod
    def empty(spark: SparkSession, schema: Schema | None = None) -> "PropertyGraph":
        return PropertyGraph(
            spark,
            spark.createDataFrame([], VERTICES_SCHEMA),
            spark.createDataFrame([], EDGES_SCHEMA),
            spark.createDataFrame([], PROPERTIES_SCHEMA),
            spark.createDataFrame([], PROP_REFS_SCHEMA),
            schema or DEFAULT_SCHEMA,
            GraphDelta(None),
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

    def _with(self, delta: Optional[GraphDelta] = None, **tables: DataFrame) -> "PropertyGraph":
        """A graph with some tables replaced. Without ``delta`` the result
        has unknown provenance; the CRUD methods pass their new delta."""
        kwargs = {t: tables.get(t, getattr(self, t)) for t in _TABLES}
        return PropertyGraph(self.spark, schema=self.schema, delta=delta, **kwargs)

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
        exists, dedups property content, writes index backlinks."""
        b = GraphBatchBuilder(self.schema)
        ids = [b.add_node(prop, id=vid) for vid, prop in items]
        self._assert_new_node_ids(ids)
        v, e, p, r = b.frames(self.spark)
        return (
            self._with(
                vertices=self.vertices.unionByName(v),
                properties=self.properties.unionByName(p).dropDuplicates(["prop_hash"]),
                prop_refs=self.prop_refs.unionByName(r).dropDuplicates(),
                delta=b.added_to(self.delta),
            ),
            ids,
        )

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
        property; old property rows become garbage collected by ``gc()``."""
        items = list(items)
        # reference semantics: updating a nonexistent node is an error
        # (update_node does read_node first, kv_graph_store.rs:555-560)
        ids = [vid for vid, _ in items]
        ids_df = literal_frame(self.spark, ids)
        missing = ids_df.join(self.vertices, "id", "leftanti").limit(1).collect()
        if missing:
            raise KeyError(f"update_nodes: node {missing[0]['id']} does not exist")
        b = GraphBatchBuilder(self.schema)
        for vid, prop in items:
            b.add_node(prop, id=vid)
        v, _, p, r = b.frames(self.spark)
        vertices = self.vertices.join(F.broadcast(ids_df), "id", "leftanti").unionByName(v)
        # drop the old node->prop backlinks, add the new ones
        prop_refs = _drop_refs(self.prop_refs, "node", ids_df).unionByName(r).dropDuplicates()
        delta = self.delta
        if delta is not None:
            delta = delta.retract("vertices", ids).retract("prop_refs", [("node", i) for i in ids])
        return self._with(
            vertices=vertices,
            properties=self.properties.unionByName(p).dropDuplicates(["prop_hash"]),
            prop_refs=prop_refs,
            delta=b.added_to(delta),
        )

    def delete_nodes(self, vertex_ids: Sequence[str], cascade: bool = True) -> "PropertyGraph":
        """Batch delete_node. ``cascade=True`` removes incident edges — the
        *documented* behavior (docs/key_value_store.adoc:543-544); the
        reference code leaves them dangling (kv_graph_store.rs:584-602) —
        pass ``cascade=False`` to replicate that."""
        vertex_ids = list(vertex_ids)
        ids = literal_frame(self.spark, vertex_ids)
        delta = self.delta
        if delta is not None:
            delta = delta.retract("vertices", vertex_ids).retract(
                "prop_refs", [("node", i) for i in vertex_ids]
            )
            if cascade:
                delta = delta.drop_incident_edges(vertex_ids)
        g = self._with(
            vertices=self.vertices.join(F.broadcast(ids), "id", "leftanti"),
            prop_refs=_drop_refs(self.prop_refs, "node", ids),
            delta=delta,
        )
        if cascade:
            doomed = (
                self.edges.join(F.broadcast(ids), F.col("src") == F.col("id"), "leftsemi")
                .unionByName(
                    self.edges.join(F.broadcast(ids), F.col("dst") == F.col("id"), "leftsemi")
                )
                .select("edge_id")
                .distinct()
            )
            g = g._delete_edges_df(doomed, delta)
        return g

    def create_edges(
        self, items: Iterable[tuple[str, str, Prop]]
    ) -> tuple["PropertyGraph", list[str]]:
        """Batch create_edge (kv_graph_store.rs:604-655). Content-addressed
        ids: duplicate (src, dst, props) collapse to one edge. No adjacency
        upkeep needed (derived)."""
        b = GraphBatchBuilder(self.schema)
        ids = [b.add_edge(s, d, prop) for s, d, prop in items]
        _, e, p, r = b.frames(self.spark)
        return (
            self._with(
                edges=self.edges.unionByName(e).dropDuplicates(["edge_id"]),
                properties=self.properties.unionByName(p).dropDuplicates(["prop_hash"]),
                prop_refs=self.prop_refs.unionByName(r).dropDuplicates(),
                delta=b.added_to(self.delta),
            ),
            ids,
        )

    def _delete_edges_df(self, edge_ids: DataFrame, delta: Optional[GraphDelta]) -> "PropertyGraph":
        edges = self.edges.join(
            F.broadcast(edge_ids.select("edge_id")), "edge_id", "leftanti"
        )
        prop_refs = _drop_refs(self.prop_refs, "edge", edge_ids.select("edge_id"))
        return self._with(edges=edges, prop_refs=prop_refs, delta=delta)

    def delete_edges(self, edge_ids: Sequence[str]) -> "PropertyGraph":
        edge_ids = list(edge_ids)
        delta = self.delta
        if delta is not None:
            delta = delta.retract("edges", edge_ids).retract(
                "prop_refs", [("edge", e) for e in edge_ids]
            )
        return self._delete_edges_df(literal_frame(self.spark, edge_ids, "edge_id"), delta)

    def gc(self, max_iters: int = 10) -> "PropertyGraph":
        """Refcount GC of unreferenced properties as a batch job.

        The reference refcounts per-op via index backlinks
        (kv_graph_store.rs:388-404,736-752); at scale a periodic anti-join
        fixpoint is cheaper. A property is live iff it has ≥1 prop_refs row;
        deleting a dead parent drops its nesting refs, which may orphan
        children — iterate to fixpoint (depth = nesting depth, tiny).

        Each round collects its dead hashes (at most ARROW_COMMIT_CAP+1):
        they are the round's emptiness probe, the literal set the next
        round anti-joins, and the retractions of the graph's delta. A
        round with more dead hashes than that keeps them a lazy frame and
        the result forgets its delta."""
        # r14 (guide §7.3): lazy lineage cuts at entry and per iteration —
        # uncut, every fixpoint probe re-planned and re-executed the
        # graph's whole op lineage (unions/anti-joins of every CRUD op
        # since load), making gc quadratic in plan depth. The first
        # probe materializes the entry cuts; each iteration's cuts ride
        # the next probe. Lazy is sound: nothing external mutates between
        # the cut and its first action.
        properties = _cut(self.properties)
        prop_refs = _cut(self.prop_refs)
        delta = self.delta
        for _ in range(max_iters):
            dead = properties.join(
                prop_refs.select("prop_hash").distinct(), "prop_hash", "leftanti"
            ).select("prop_hash")
            hashes = [r[0] for r in dead.limit(ARROW_COMMIT_CAP + 1).collect()]
            if not hashes:
                break
            if len(hashes) > ARROW_COMMIT_CAP:
                delta = None
            else:
                dead = literal_frame(self.spark, hashes, "prop_hash")
                if delta is not None:
                    delta = delta.retract("properties", hashes).retract(
                        "prop_refs", [(k, h) for h in hashes for k in ("node", "edge", "prop")]
                    )
            properties = _cut(properties.join(dead, "prop_hash", "leftanti"))
            prop_refs = _cut(
                prop_refs.join(
                    dead.select(F.col("prop_hash").alias("ref_id")), "ref_id", "leftanti"
                ).select(*PROP_REFS_SCHEMA.names)
            )
        return self._with(properties=properties, prop_refs=prop_refs, delta=delta)

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
    """Accumulate nodes/edges driver-side, emit the four DataFrames.

    This is the literal/ingest path (GraphBuilder trait, lib.rs:67-77).
    For bulk ingest from existing DataFrames use
    ``gravitydb_spark.sources.ingest`` instead — this builder is for
    fixtures, tests, and small CRUD batches.
    """

    def __init__(self, schema: Schema | None = None):
        self.schema = schema or DEFAULT_SCHEMA
        self._vertices: list[tuple[str, str]] = []
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
        vid = id or str(uuid.uuid4())
        ph = self._register_prop(prop)
        self._vertices.append((vid, ph))
        self._prop_refs.add((ph, "node", vid))
        return vid

    def add_edge(self, src: str, dst: str, prop: Prop) -> str:
        ph = self._register_prop(prop)
        eid = edge_hash(src, dst, ph)
        self._edges[eid] = (eid, src, dst, ph)
        self._prop_refs.add((ph, "edge", eid))
        return eid

    def frames(
        self, spark: SparkSession
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        return (
            spark.createDataFrame(self._vertices, VERTICES_SCHEMA),
            spark.createDataFrame(list(self._edges.values()), EDGES_SCHEMA),
            spark.createDataFrame(list(self._properties.values()), PROPERTIES_SCHEMA),
            spark.createDataFrame(sorted(self._prop_refs), PROP_REFS_SCHEMA),
        )

    def added_to(self, delta: Optional[GraphDelta]) -> Optional[GraphDelta]:
        """``delta`` plus this batch's rows; None when ``delta`` is None,
        or when the batch repeats a vertex id (the frames then keep both
        rows, which no keyed delta can say)."""
        ids = [vid for vid, _ in self._vertices]
        if delta is None or len(set(ids)) != len(ids):
            return None
        return (
            delta.add("vertices", self._vertices)
            .add("edges", self._edges.values())
            .add("properties", self._properties.values())
            .add("prop_refs", sorted(self._prop_refs))
        )

    def build(self, spark: SparkSession) -> PropertyGraph:
        """The batch as a graph whose origin is the empty graph, so a
        commit writes its rows without a Spark job."""
        v, e, p, r = self.frames(spark)
        return PropertyGraph(spark, v, e, p, r, self.schema, self.added_to(GraphDelta(None)))

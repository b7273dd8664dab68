"""ChangeSet export / apply / merge — the reference's declared-but-unused
VCS-sync layer (kv_graph_store.rs:848-864 declares ``Change`` /
``NodeChange`` / ``ChangeSet``; docs/key_value_store.adoc:528-598 designs
"synchronisation via a VCS": export each transaction's change set as a
commit, sync asynchronously, merge diverged stores). Nothing in the
reference implements it; this module does, Spark-first:

- :func:`graph_diff` — Change between two snapshots as DataFrames
  (created / modified / deleted node+edge sets), all anti-joins.
- :func:`change_to_json` / :func:`change_from_json` — the commit payload:
  deterministic sorted lists (the BTreeSet ordering of the reference
  structs), carrying the referenced property blobs so a change applies
  on a store that has never seen them (the reference's commented-out
  ``properties`` field, kv_graph_store.rs:862) and ``depends_on`` = the
  base snapshot's content id (adoc:589-593's conflict discriminator).
- :func:`apply_change` — idempotent replay of a Change onto a snapshot.
- :func:`merge_graphs` — three-way merge of two diverged snapshots over
  a common base. Content addressing does the heavy lifting exactly as
  the docs predict: identical concurrent creations collapse by hash,
  property content unions by hash, and the refcount index is rebuilt by
  the existing ``gc()`` fixpoint. Real conflicts (both sides changed the
  same node id differently) raise :class:`MergeConflictError` with the
  ids — the "diff mechanism for the user" hook (adoc:595-598).

Scale posture: everything is id/hash equi-joins and unions over the four
store tables — no window, no driver-side row loops; only the JSON commit
export collects (bounded by transaction size, which is the unit the docs
define a commit to be). Merging 100 TB stores is the same set algebra at
table scale.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F

from .graph import PROP_REFS_SCHEMA, SCHEMAS, PropertyGraph, _aqe_off, _scoped_conf, literal_rows

__all__ = [
    "MergeConflictError",
    "apply_change",
    "change_to_json",
    "change_from_json",
    "delta_diff",
    "graph_diff",
    "merge_graphs",
    "snapshot_id",
]


def _cut(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` with constraint propagation
    scoped OFF during the checkpoint's plan finalization (r14): cutting
    a union whose children reuse an already-checkpointed frame's
    attribute ids trips a Catalyst bug in
    ``UnionBase.rewriteConstraints`` ("key not found: id#...") — the
    changeset tables are exactly that shape. Constraints only feed
    the optimizer's filter inference; the cut plan is KB-sized change
    state, so nothing is lost. localCheckpoint plans at call time, so
    the toggle scopes exactly the one plan."""
    with _scoped_conf(df.sparkSession, "spark.sql.constraintPropagation.enabled", "false"):
        return df.localCheckpoint(eager=False)


class MergeConflictError(Exception):
    def __init__(self, node_ids: list):
        self.node_ids = node_ids
        super().__init__(
            f"merge conflict: node(s) changed differently on both sides: {node_ids}"
        )


def snapshot_id(g: PropertyGraph) -> str:
    """Content id of a whole snapshot (``depends_on`` entry): order-free
    xxhash64 sums + counts of the four tables, folded through sha256.
    Two stores with identical content get identical ids regardless of
    partitioning or row order."""
    import hashlib
    from functools import reduce

    # r14 (guide §5/§7.3): ONE action instead of four sequential
    # .first()s — each per-table agg re-planned and re-executed the
    # graph's whole op lineage; the tagged union collects all four
    # (n, s) rows in a single job (AQE off: with it, each partial
    # aggregate's exchange was a job of its own). Same values, same
    # string, same hash.
    parts = [
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s"),
        ).select(F.lit(i).alias("t"), "n", "s")
        for i, df in enumerate((g.vertices, g.edges, g.properties, g.prop_refs))
    ]
    with _aqe_off(g.spark):
        rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    sums = [f"{r['n']}:{r['s']}" for r in sorted(rows, key=lambda r: r["t"])]
    return hashlib.sha256("|".join(sums).encode()).hexdigest()


def _closure_properties(g: PropertyGraph, seed_hashes: DataFrame) -> DataFrame:
    """All property rows reachable from ``seed_hashes`` through the
    ``prop``-kind nesting backlinks (child → parent), to fixpoint —
    nesting depth is schema depth, tiny."""
    have = seed_hashes.select("prop_hash").distinct().localCheckpoint()
    # r14: cut the nesting-backlink side once — uncut, every fixpoint
    # iteration re-executed the graph's full prop_refs lineage (§7.3) —
    # and expand levels in BURSTS of 4 with ONE emptiness probe per
    # burst (guide §1.2, the CC-BFS-rebuild trick): an empty level makes
    # every later level empty, and empty levels union zero rows into
    # ``have``, so probing only the burst's last frame loses nothing.
    # Nesting depth is schema depth (1-3 in practice) — one probe total.
    nest = _cut(g.prop_refs.filter(F.col("ref_kind") == "prop"))
    while True:
        children = None
        for _ in range(4):
            children = (
                nest.join(
                    have.select(F.col("prop_hash").alias("ref_id")),
                    "ref_id",
                    "leftsemi",
                )
                .select("prop_hash")
                .distinct()
                .join(have, "prop_hash", "leftanti")
            )
            children = _cut(children)
            have = _cut(have.unionByName(children))
        if children.isEmpty():
            break
    return g.properties.join(have, "prop_hash", "leftsemi")


def graph_diff(base: PropertyGraph, new: PropertyGraph) -> dict:
    """``Change`` between two snapshots (kv_graph_store.rs:848-853) as a
    dict of DataFrames:

    - ``created_nodes`` / ``deleted_nodes`` — NodeChange(id, prop_hash)
    - ``modified``                          — NodeChange with the NEW hash
    - ``created_edges`` / ``deleted_edges`` — EdgeData rows
    - ``properties``  — blobs referenced by created/modified elements
      (transitively through nesting), so the change is self-contained
    - ``depends_on``  — [snapshot_id(base)]
    """
    bv, nv = base.vertices, new.vertices
    # r14: lazy cuts on every exported frame — each is consumed two to
    # three times (JSON rows() collect, the closure seed, apply joins),
    # and uncut each consumer re-planned the full two-snapshot lineage
    # (§7.3). Lazy is sound: nothing mutates between diff and use.
    created_nodes = _cut(nv.join(bv.select("id"), "id", "leftanti"))
    deleted_nodes = _cut(bv.join(nv.select("id"), "id", "leftanti"))
    modified = (
        nv.alias("n")
        .join(bv.alias("b"), "id")
        .filter(F.col("n.prop_hash") != F.col("b.prop_hash"))
        .select("id", F.col("n.prop_hash").alias("prop_hash"))
    )
    modified = _cut(modified)
    created_edges = _cut(
        new.edges.join(base.edges.select("edge_id"), "edge_id", "leftanti")
    )
    deleted_edges = _cut(
        base.edges.join(new.edges.select("edge_id"), "edge_id", "leftanti")
    )
    seed = (
        created_nodes.select("prop_hash")
        .unionByName(modified.select("prop_hash"))
        .unionByName(created_edges.select("prop_hash"))
    )
    props = _cut(_closure_properties(new, seed))
    # nesting backlinks among the exported blobs, so applying on a store
    # that has never seen them reconstructs the full backlink tree —
    # BOTH endpoints must be exported (a shared child also nests under
    # non-exported parents, and those stale-parent rows must not travel)
    nest_refs = (
        new.prop_refs.filter(F.col("ref_kind") == "prop")
        .join(props.select("prop_hash"), "prop_hash", "leftsemi")
        .join(
            props.select(F.col("prop_hash").alias("ref_id")), "ref_id", "leftsemi"
        )
        .select(*PROP_REFS_SCHEMA.names)  # the join moved ref_id first
    )
    return {
        "created_nodes": created_nodes,
        "modified": modified,
        "deleted_nodes": deleted_nodes,
        "created_edges": created_edges,
        "deleted_edges": deleted_edges,
        "properties": props,
        "nest_refs": nest_refs,
        "depends_on": [snapshot_id(base)],
    }


def delta_diff(base: PropertyGraph, record: dict, new_dir: str) -> dict:
    """:func:`graph_diff` of ``base`` and the snapshot at ``new_dir``,
    read from the delta the snapshot's commit recorded against ``base``
    (its parent): the rows each table lost and gained. The node and edge
    changes come from the record alone; the property closure and its
    nesting backlinks are filtered reads of the new snapshot's files with
    pyarrow, one per nesting level. Every frame is driver-side rows, so
    collecting it runs no Spark job; ``depends_on`` is one job over
    ``base``. Same rows as graph_diff (the tests hold it as the oracle)."""
    import pyarrow.parquet as papq

    def read(table, flt):
        names = SCHEMAS[table].names
        tbl = papq.read_table(f"{new_dir}/{table}", columns=names, filters=flt).select(names)
        return [list(r) for r in zip(*(c.to_pylist() for c in tbl.columns))]

    def nesting(parents, children=None):
        flt = [("ref_kind", "=", "prop"), ("ref_id", "in", sorted(parents))]
        if children is not None:
            flt.append(("prop_hash", "in", sorted(children)))
        return read("prop_refs", flt)

    added, removed = record["added"], record["removed"]
    old_v = {r[0]: r[1] for r in removed["vertices"]}
    new_v = {r[0] for r in added["vertices"]}
    old_e = {r[0] for r in removed["edges"]}
    new_e = {r[0] for r in added["edges"]}
    created_nodes = [r for r in added["vertices"] if r[0] not in old_v]
    modified = [r for r in added["vertices"] if r[0] in old_v and old_v[r[0]] != r[1]]
    created_edges = [r for r in added["edges"] if r[0] not in old_e]
    # last column of a vertex or edge row is its prop_hash
    have = {r[-1] for r in created_nodes + modified + created_edges}
    level = set(have)
    while level:
        level = {r[0] for r in nesting(level)} - have
        have |= level
    props = read("properties", [("prop_hash", "in", sorted(have))]) if have else []
    found = {r[0] for r in props}
    frames = {
        "created_nodes": ("vertices", created_nodes),
        "modified": ("vertices", modified),
        "deleted_nodes": ("vertices", [r for r in removed["vertices"] if r[0] not in new_v]),
        "created_edges": ("edges", created_edges),
        "deleted_edges": ("edges", [r for r in removed["edges"] if r[0] not in new_e]),
        "properties": ("properties", props),
        "nest_refs": ("prop_refs", nesting(found, found) if found else []),
    }
    out = {k: literal_rows(base.spark, rows, SCHEMAS[t].names) for k, (t, rows) in frames.items()}
    out["depends_on"] = [snapshot_id(base)]
    return out


def change_to_json(change: dict) -> str:
    """Serialize a Change to the commit payload: sorted lists (BTreeSet
    order) keyed like the reference structs. Collects to the driver —
    a commit is one transaction's worth of rows by definition."""
    def rows(df, cols):
        return sorted([r[c] for c in cols] for r in df.select(*cols).collect())

    payload = {
        "created": {
            "nodes": rows(change["created_nodes"], ["id", "prop_hash"]),
            "edges": rows(
                change["created_edges"], ["edge_id", "src", "dst", "prop_hash"]
            ),
        },
        "modified": rows(change["modified"], ["id", "prop_hash"]),
        "deleted": {
            "nodes": rows(change["deleted_nodes"], ["id", "prop_hash"]),
            "edges": rows(
                change["deleted_edges"], ["edge_id", "src", "dst", "prop_hash"]
            ),
        },
        "properties": rows(
            change["properties"], ["prop_hash", "schema_type", "value", "tagged"]
        ),
        "nest_refs": rows(change["nest_refs"], ["prop_hash", "ref_kind", "ref_id"]),
        "depends_on": sorted(change["depends_on"]),
    }
    return json.dumps(payload, separators=(",", ":"), sort_keys=True)


def change_from_json(spark, payload: str) -> dict:
    """Inverse of :func:`change_to_json` (DataFrame-valued Change; each
    frame a ``LocalRelation`` of the payload's rows)."""
    data = json.loads(payload)

    def df(rows, table):
        return literal_rows(spark, rows, SCHEMAS[table].names)

    return {
        "created_nodes": df(data["created"]["nodes"], "vertices"),
        "created_edges": df(data["created"]["edges"], "edges"),
        "modified": df(data["modified"], "vertices"),
        "deleted_nodes": df(data["deleted"]["nodes"], "vertices"),
        "deleted_edges": df(data["deleted"]["edges"], "edges"),
        "properties": df(data["properties"], "properties"),
        "nest_refs": df(data["nest_refs"], "prop_refs"),
        "depends_on": data["depends_on"],
    }


def apply_change(base: PropertyGraph, change: dict) -> PropertyGraph:
    """Replay a Change onto ``base`` (idempotent: re-applying is a no-op
    thanks to content addressing — creations collapse by hash/id,
    deletions of absent rows are anti-join no-ops)."""
    created_n = change["created_nodes"].select("id", "prop_hash")
    modified = change["modified"].select("id", "prop_hash")
    gone_n = change["deleted_nodes"].select("id")
    # r14 note: these three frames are deliberately NOT lineage-cut —
    # ``modified`` (an already-checkpointed diff frame) appears both as
    # a union child and as an anti-join input with shared attribute
    # ids, and forcing the union through localCheckpoint planning trips
    # a Catalyst constraint-rewrite bug (UnionBase.rewriteConstraints:
    # "key not found: id#...", seen in test_sharding's sync-back).
    vertices = (
        base.vertices.join(gone_n, "id", "leftanti")
        .join(modified.select("id"), "id", "leftanti")
        .unionByName(modified)
        .unionByName(created_n)
        .dropDuplicates(["id"])
    )
    edges = (
        base.edges.join(change["deleted_edges"].select("edge_id"), "edge_id", "leftanti")
        .unionByName(change["created_edges"].select(*base.edges.columns))
        .dropDuplicates(["edge_id"])
    )
    properties = base.properties.unionByName(
        change["properties"].select(*base.properties.columns)
    ).dropDuplicates(["prop_hash"])
    template = base._with(
        prop_refs=base.prop_refs.unionByName(
            change["nest_refs"].select(*base.prop_refs.columns)
        ).dropDuplicates()
    )
    return _rebuild_refs(template, vertices, edges, properties)


def _rebuild_refs(
    template: PropertyGraph,
    vertices: DataFrame,
    edges: DataFrame,
    properties: DataFrame,
) -> PropertyGraph:
    """Rebuild the inverted property index for a merged/applied element
    set: node/edge backlinks regenerate from the surviving elements;
    prop→prop nesting rows carry over wherever the child still exists
    (parents that lost every referrer die in the gc fixpoint, exactly the
    refcount-rebuild the docs call for)."""
    refs = (
        vertices.select(
            "prop_hash", F.lit("node").alias("ref_kind"), F.col("id").alias("ref_id")
        )
        .unionByName(
            edges.select(
                "prop_hash",
                F.lit("edge").alias("ref_kind"),
                F.col("edge_id").alias("ref_id"),
            )
        )
        .unionByName(
            template.prop_refs.filter(F.col("ref_kind") == "prop")
            # both endpoints must exist: child row present AND parent
            # (ref_id) present — a ref under a vanished parent is exactly
            # doctor()'s stale_refs violation
            .join(properties.select("prop_hash"), "prop_hash", "leftsemi")
            .join(
                properties.select(F.col("prop_hash").alias("ref_id")),
                "ref_id",
                "leftsemi",
            )
        )
        .dropDuplicates()
        # r14 note: NOT cut here — forcing the union through
        # localCheckpoint planning trips the same Catalyst
        # UnionBase.rewriteConstraints bug as apply_change's unions over
        # reused checkpointed diff frames. gc() reads this tree once per
        # fixpoint round (nesting depth + 1 rounds).
    )
    return template._with(
        vertices=vertices, edges=edges, properties=properties, prop_refs=refs
    ).gc()


def merge_graphs(
    base: PropertyGraph, a: PropertyGraph, b: PropertyGraph
) -> PropertyGraph:
    """Three-way merge of two snapshots diverged from ``base``
    (docs/key_value_store.adoc:528-598: the split/distribute/merge goal).

    Per node id (null-safe over presence):
    - both sides agree (same hash, or both deleted) → that outcome
    - one side kept base's row, the other changed/deleted it → the change
    - both changed differently → :class:`MergeConflictError`

    Edges are content-addressed (id = hash(src, dst, prop)), so edge
    merge is pure three-way set algebra: (a ∩ b) ∪ (a∖base) ∪ (b∖base);
    identical concurrent additions collapse by id. Edges whose endpoint
    lost the vertex merge are cascade-dropped (the documented delete
    semantics). Properties union by content hash; the backlink index is
    rebuilt and ``gc()`` restores refcount invariants."""
    va = a.vertices.select("id", F.col("prop_hash").alias("ph_a"))
    vb = b.vertices.select("id", F.col("prop_hash").alias("ph_b"))
    vo = base.vertices.select("id", F.col("prop_hash").alias("ph_o"))
    # r14: cut the three-way join — it feeds the conflict probe AND the
    # merged vertex set; the conflict collect materializes it (§7.3)
    m = _cut(vo.join(va, "id", "full").join(vb, "id", "full"))

    agree = F.col("ph_a").eqNullSafe(F.col("ph_b"))
    a_unchanged = F.col("ph_a").eqNullSafe(F.col("ph_o"))
    b_unchanged = F.col("ph_b").eqNullSafe(F.col("ph_o"))
    conflicts = [
        r["id"]
        for r in m.filter(~agree & ~a_unchanged & ~b_unchanged)
        .select("id")
        .sort("id")
        .limit(20)
        .collect()
    ]
    if conflicts:
        raise MergeConflictError(conflicts)
    merged = F.when(agree, F.col("ph_a")).when(
        a_unchanged, F.col("ph_b")
    ).otherwise(F.col("ph_a"))
    vertices = (
        m.select("id", merged.alias("prop_hash"))
        .filter(F.col("prop_hash").isNotNull())
    )
    # r14: consumed three times (edge cascade ×2, rebuild) — cut
    vertices = _cut(vertices)

    ea, eb, eo = a.edges, b.edges, base.edges
    kept = ea.join(eb.select("edge_id"), "edge_id", "leftsemi")
    new_a = ea.join(eo.select("edge_id"), "edge_id", "leftanti")
    new_b = eb.join(eo.select("edge_id"), "edge_id", "leftanti")
    edges = (
        kept.unionByName(new_a)
        .unionByName(new_b)
        .dropDuplicates(["edge_id"])
        # cascade: endpoints must have survived the vertex merge
        .join(vertices.select(F.col("id").alias("src")), "src", "leftsemi")
        .join(vertices.select(F.col("id").alias("dst")), "dst", "leftsemi")
        .select(*base.edges.columns)  # joins moved the key columns first
    )
    edges = _cut(edges)  # r14: feeds refs build + _with

    properties = (
        base.properties.unionByName(a.properties)
        .unionByName(b.properties)
        .dropDuplicates(["prop_hash"])
    )
    properties = _cut(properties)  # r14: refs nesting joins ×2 + gc
    # nesting rows may exist on either side; feed both to the rebuild
    template = base._with(
        prop_refs=base.prop_refs.unionByName(a.prop_refs)
        .unionByName(b.prop_refs)
        .dropDuplicates()
    )
    return _rebuild_refs(template, vertices, edges, properties)

"""Iterative graph analytics — the beyond-reference analytics layer
(project north star: GraphX-style analytics; in PySpark these are
DataFrame-iterated fixpoints with lineage truncation).

The zoe language has no recursion (author note,
docs/query_language.adoc:717-718), so these are additions, not ports:
connected components (alternating large-star/small-star, the standard
MapReduce CC that converges in O(log n) rounds instead of O(diameter))
and PageRank (dangling mass folded into the per-iteration plan — one
Spark job per iteration, no driver-side ``.first()``). ``localCheckpoint``
truncates lineage so plans stay O(1) per iteration instead of growing —
the same plan-size discipline as the set-op compiler (SCALE.md §2).

``pagerank_scaled`` runs the power iteration in scaled BIGINT arithmetic
(integer division only), which is fold-order independent — so the gate
query can have a full value-matched DuckDB oracle even though float
summation order differs between engines.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..graph import PropertyGraph
from ..session import _maybe_broadcast

__all__ = [
    "betweenness_scaled",
    "bfs_distances",
    "cc_labels",
    "connected_components",
    "hits_scaled",
    "kcore_onion",
    "multi_source_bfs",
    "pagerank",
    "pagerank_scaled",
    "pagerank_weighted_scaled",
    "sssp_weighted",
    "triangle_counts",
]


def bfs_distances(
    graph: PropertyGraph,
    sources: DataFrame,
    direction: str = "out",
    max_depth: int = 20,
) -> DataFrame:
    """DF[id, dist] — unweighted BFS hop distance from the ``sources`` id
    set (DF[id]), following edges forward (``out``: src→dst) or backward
    (``in``). Unreached vertices are absent from the result.

    Frontier-at-a-time: each level is one join + anti-join against the
    visited set; ``localCheckpoint`` keeps the per-level plan O(1). The
    loop runs `diameter` rounds — BFS is inherently level-synchronous, so
    unlike connected components there is no log-round shortcut.

    Raises RuntimeError if the frontier is still non-empty after
    ``max_depth`` rounds (silently dropping vertices at depth > max_depth
    would be indistinguishable from them being unreachable)."""
    if direction not in ("out", "in"):
        raise ValueError(f"direction must be 'out' or 'in', got {direction!r}")
    src, dst = ("src", "dst") if direction == "out" else ("dst", "src")
    edges = graph.edges.select(
        F.col(src).alias("from_id"), F.col(dst).alias("to_id")
    ).localCheckpoint(eager=False)
    frontier = sources.select("id").distinct().localCheckpoint()
    visited = frontier.withColumn("dist", F.lit(0).cast("long")).localCheckpoint()
    for depth in range(1, max_depth + 1):
        nxt = (
            edges.join(frontier, edges.from_id == frontier.id)
            .select(F.col("to_id").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "leftanti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(
            nxt.withColumn("dist", F.lit(depth).cast("long"))
        ).localCheckpoint()
        frontier = nxt
    else:
        # loop exhausted without the frontier draining: exact check for
        # still-unreached-but-reachable vertices (one extra join)
        remaining = (
            edges.join(frontier, edges.from_id == frontier.id)
            .select(F.col("to_id").alias("id"))
            .join(visited.select("id"), "id", "leftanti")
        )
        if not remaining.isEmpty():
            raise RuntimeError(
                f"bfs_distances: reachable vertices remain beyond max_depth="
                f"{max_depth} rounds; raise max_depth"
            )
    return visited


def multi_source_bfs(
    und: DataFrame,
    level0: DataFrame,
    max_depth: int,
    n_rows: int | None = None,
) -> DataFrame:
    """DF[s, v, lvl: long] — level-synchronous BFS from many sources at
    once over a symmetrized edge DF[a, b]: ``level0`` (DF[s, v]) holds
    each source's level-0 pairs, and the result holds every pair first
    reached at hop ``lvl`` ≥ 1. Runs until a level comes out empty or
    ``max_depth`` levels are built (the cap is the caller's contract,
    not an error).

    Per level ONE (s, v)-keyed equi-join + distinct + an anti-join
    against the seen set, lineage-cut. The cuts are lazy: the
    ``isEmpty`` probe (or the next level's broadcast build) materializes
    each frame in its own job. ``n_rows`` bounds the frontier and the
    seen set (each holds ≤ one row per (source, vertex) pair) for the
    count-gated broadcast hint — a lineage-cut frame's size estimate
    compounds level over level, so without it Spark sorts the edge side
    every level."""
    frontier = level0.localCheckpoint(eager=True)
    seen = frontier
    levels = []
    for L in range(1, max_depth + 1):
        nxt = (
            und.join(_maybe_broadcast(frontier, n_rows), und.a == frontier.v)
            .select("s", F.col("b").alias("v"))
            .distinct()
            .join(_maybe_broadcast(seen, n_rows), ["s", "v"], "left_anti")
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():
            break
        levels.append(nxt.withColumn("lvl", F.lit(L).cast("long")))
        seen = seen.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return reduce(DataFrame.unionByName, levels)


def _star_contraction(edges: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star contraction over an undirected
    edge DF[src, dst]; returns the fixpoint star forest DF[id, component]
    (one row per NON-minimum vertex of each component — minima and
    isolated vertices are absent, callers coalesce to self-labels).

    Kiveris et al., "Connected Components in MapReduce and Beyond":
    converges in O(log n) rounds on any graph, vs O(diameter) for plain
    label propagation — the difference between 20 shuffles and 600 on a
    100 TB web-ish graph. Each round is two groupBy+join passes over the
    (shrinking) edge set.

    Raises RuntimeError if ``max_iters`` rounds don't reach the fixpoint
    (silently returning unconverged labels would be wrong answers).
    """
    # undirected, no self-loops; all ids are non-null strings (lexicographic
    # total order — the same order min-label propagation used)
    edges = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
        )
        .distinct()
        # lazy cut (r12 VERDICT #2): the round-1 signature agg below is
        # a full scan, so it materializes the checkpoint in its own job
        # (eager cut + agg was 2 jobs per round)
        .localCheckpoint(eager=False)
    )

    prev_sig = None
    converged = False
    for _ in range(max_iters):
        # -- large-star: for each u, link every LARGER neighbor v to
        #    m = min(N(u) ∪ {u}); keeps (v > m) orientation by construction
        sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("nmin"))
        mins = mins.select("u", F.least("nmin", "u").alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )

        # -- small-star: orient (hi → lo); for each hi, link hi and all its
        #    smaller neighbors to m = min of those neighbors
        smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        edges = (
            large.join(smins, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(smins.select(F.col("hi"), F.col("m").alias("lo")))
            .distinct()
            # lazy: the signature agg materializes it (O(1) plan per
            # round either way — the cut still truncates lineage)
            .localCheckpoint(eager=False)
        )

        # converged when the edge set is stable (count + order-free hash sum;
        # decimal sum can't overflow under ANSI mode)
        sig = tuple(
            edges.agg(
                F.count(F.lit(1)),
                F.coalesce(
                    F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ),
            ).first()
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig

    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(pathological graph?); raise max_iters"
        )

    # fixpoint edge set is a star forest: (v, component_min) for every
    # non-minimum vertex
    return edges.select(F.col("hi").alias("id"), F.col("lo").alias("component"))


def connected_components(graph: PropertyGraph, max_iters: int = 40) -> DataFrame:
    """DF[id, component] — component = min vertex id (lexicographic) in the
    weakly-connected component; every graph vertex gets a row (isolated
    vertices and component minima label themselves)."""
    stars = _star_contraction(graph.edges, max_iters)
    return (
        graph.vertices.select("id")
        .join(stars, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def cc_labels(edges: DataFrame, max_iters: int = 40) -> DataFrame:
    """DF[id, component] for every vertex APPEARING in ``edges``
    (DF[src, dst]) — the edge-list form of :func:`connected_components`,
    for derived graphs with no vertex table (e.g. near-duplicate pair
    graphs from the dedup operators)."""
    stars = _star_contraction(edges, max_iters)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return nodes.join(stars, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def _triangles(
    canon: DataFrame, n_edges: int | None, barrier
) -> tuple[DataFrame, DataFrame]:
    """(oriented, tri) — every triangle of the undirected simple graph
    given by the canonical edge DF[a, b] (a < b, one row per edge),
    enumerated exactly ONCE as tri = DF[x, y, z].

    Degree-ordered orientation (the standard MapReduce triangle count):
    orient every edge from its lower-(degree, id) endpoint to the higher
    one, enumerate wedges from each vertex's outgoing pairs, close them
    against the oriented edge set. Max out-degree under this orientation
    is O(sqrt(m)), so wedge count is O(m^1.5) regardless of skew — a
    celebrity vertex with 10⁶ followers contributes no wedges from its
    own (huge) in-neighborhood. Three equi-joins, no driver iteration.

    ``barrier`` cuts the oriented table DF[u, v, vkey] its three
    consumers share (so the degrees are computed once); it is returned
    so a caller that caches can release it. ``n_edges`` bounds the
    canonical edge count: the degree table (≤ 2·m rows), the wedge
    join's build side and the closing-edge set (m rows each) get
    count-gated broadcast hints (without them every join is a
    SortMergeJoin; above the broadcast budget the hint drops and the
    shuffle plan returns)."""
    deg_rows = None if n_edges is None else 2 * n_edges
    deg = (
        canon.select(F.col("a").alias("id"))
        .unionByName(canon.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    keyed = canon.join(
        _maybe_broadcast(
            deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a")),
            deg_rows,
        ),
        "a",
    ).join(
        _maybe_broadcast(
            deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b")),
            deg_rows,
        ),
        "b",
    )
    # a < b by canonical construction, so (deg, id) ties keep a first
    a_first = F.col("deg_a") <= F.col("deg_b")
    oriented = barrier(
        keyed.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(
                a_first, F.struct(F.col("deg_b").alias("d"), F.col("b").alias("i"))
            )
            .otherwise(F.struct(F.col("deg_a").alias("d"), F.col("a").alias("i")))
            .alias("vkey"),
        )
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        _maybe_broadcast(e2, n_edges),
        (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.vkey") < F.col("e2.vkey")),
    ).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    # closing edge y→z exists iff the triangle closes: key(y) < key(z)
    # holds by wedge construction, so the oriented set contains it
    # exactly then
    closer = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    return oriented, wedges.join(_maybe_broadcast(closer, n_edges), ["y", "z"])


def triangle_counts(
    edges: DataFrame, n_edges: int | None = None
) -> DataFrame:
    """DF[id, triangles] — per-vertex triangle participation counts over
    the undirected simple graph induced by ``edges`` (DF[src, dst]);
    vertices in no triangle are absent. Triangles come from
    :func:`_triangles` (degree-ordered orientation, O(m^1.5) wedges).

    ``n_edges``: a caller-held bound on the canonical edge count, for
    the enumerator's count-gated broadcast hints. The orientation
    barrier is a lazy ``localCheckpoint`` — no cache entry outlives the
    call."""
    canon = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    _, tri = _triangles(
        canon, n_edges, lambda df: df.localCheckpoint(eager=False)
    )
    # one pass over the triangle set: explode the 3 member roles instead of
    # unioning three projections (a union re-evaluates the join per branch)
    members = tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
    return members.groupBy("id").agg(F.count("*").cast("long").alias("triangles"))


def _dangling_df(ranks: DataFrame, out_deg: DataFrame, expr: str) -> DataFrame:
    """1-row DF with the aggregated rank mass of dangling vertices (no
    out-edges), computed inside the plan — broadcast-joined into the next
    iteration instead of ``.first()``-ed on the driver (one job/iteration)."""
    return (
        ranks.join(out_deg, ranks.id == out_deg.src, "leftanti")
        .agg(F.expr(expr).alias("dpn"))
    )


def pagerank(
    graph: PropertyGraph, iters: int = 10, damping: float = 0.85
) -> DataFrame:
    """DF[id, rank] — standard power iteration with dangling-mass
    redistribution. Deterministic given fixed iteration count.

    The dangling-mass aggregate is a 1-row DataFrame broadcast into the
    rank-update join, so each iteration is ONE Spark job (the eager
    localCheckpoint) — no extra driver action per iteration."""
    n = graph.vertices.count()
    out_deg = graph.edges.groupBy("src").agg(F.count("*").alias("deg"))
    ranks = graph.vertices.select("id", F.lit(1.0 / n).alias("rank"))
    edges = graph.edges.select("src", "dst").localCheckpoint(eager=False)
    for _ in range(iters):
        contribs = (
            edges.join(out_deg, "src")
            .join(ranks, edges.src == ranks.id)
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("in_rank"))
        )
        dng = _dangling_df(
            ranks, out_deg, f"coalesce(sum(rank), cast(0.0 as double)) / {n}"
        )
        ranks = (
            graph.vertices.select("id")
            .join(contribs, "id", "left")
            .crossJoin(F.broadcast(dng))
            .select(
                "id",
                (
                    F.lit((1 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("in_rank"), F.lit(0.0)) + F.col("dpn"))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def pagerank_scaled(
    graph: PropertyGraph,
    iters: int = 10,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """DF[id, rank: long] — the same power iteration in scaled-integer
    arithmetic: ranks are BIGINTs in units of 1/``scale``, every division
    is integer division (DIV). Integer addition commutes exactly, so the
    result is independent of aggregation order — unlike float PageRank,
    this can be value-matched bit-for-bit against any other engine
    (the DuckDB oracle mirrors the identical recurrence with ``//``).

    Recurrence (all integer ops, all values non-negative so trunc == floor):
        rank0     = scale DIV n
        contrib   = rank DIV deg                  (per out-edge)
        dpn       = sum(dangling rank) DIV n
        rank'     = base + (dn * (in_rank + dpn)) DIV dd
        base      = (scale * (dd - dn)) DIV (dd * n)

    This is :func:`pagerank_weighted_scaled` over unit weights: with
    w = 1, ``(rank * w) DIV sum(w)`` is ``rank DIV deg``, and the
    dangling set (no out-edges) and base are the same."""
    unit = graph.edges.select(
        F.col("src").alias("from_id"), F.col("dst").alias("to_id"), F.lit(1).alias("w")
    )
    return pagerank_weighted_scaled(
        graph.vertices, unit, iters, scale, damping_num, damping_den
    ).select("id", F.col("rank_scaled").alias("rank"))


def hits_scaled(
    graph: PropertyGraph, iters: int = 3, scale: int = 10**12
) -> DataFrame:
    """DF[id, auth: long, hub: long] — HITS (Kleinberg) hubs-and-
    authorities in scaled-integer arithmetic, L1-normalized each half-step
    (``x * scale DIV sum(x)``), in units of 1/``scale``.

    Like :func:`pagerank_scaled`, every operation is integer (sums commute,
    integral division truncates identically everywhere), so the result is
    independent of Spark's aggregation order and value-matchable against
    any other engine running the same recurrence. Intermediate products
    are DECIMAL(38,0) (max ~scale², beyond int64); every normalized value
    is ≤ scale so the final cast back to BIGINT is safe.

    Per iteration: two keyed aggregations over the edge list + two 1-row
    normalization aggregates broadcast into the update — a fixed number of
    shuffles per round, lineage truncated via ``localCheckpoint``."""
    verts = graph.vertices.select("id").localCheckpoint(eager=False)
    edges = graph.edges.select("src", "dst").localCheckpoint(eager=False)

    def _normalized(raw: DataFrame, col: str) -> DataFrame:
        """raw: DF[id, r] (BIGINT ≥ 0, possibly missing ids) → DF[id, col]
        with x*scale DIV sum(x) over ALL vertices (missing → 0)."""
        total = raw.agg(
            F.greatest(F.coalesce(F.sum("r"), F.lit(0)), F.lit(1))
            .cast("decimal(38,0)")
            .alias("s")
        )
        return (
            verts.join(raw, "id", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "id",
                F.expr(
                    f"CAST((CAST(coalesce(r, 0) AS DECIMAL(38,0)) * {scale}) DIV s AS BIGINT)"
                ).alias(col),
            )
        )

    hubs = verts.select("id", F.lit(scale).cast("long").alias("hub"))
    auths = None
    for _ in range(iters):
        auth_raw = (
            edges.join(hubs, edges.src == hubs.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("r"))
        )
        auths = _normalized(auth_raw, "auth").localCheckpoint()
        hub_raw = (
            edges.join(auths, edges.dst == auths.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("r"))
        )
        hubs = _normalized(hub_raw, "hub").localCheckpoint()
    return auths.join(hubs, "id")


def sssp_weighted(
    edges: DataFrame, sources: DataFrame, max_iters: int = 30
) -> DataFrame:
    """DF[id, dist: long] — single-source(-set) shortest path distances
    over a weighted edge DF[from_id, to_id, w] with NON-NEGATIVE integer
    weights, from the ``sources`` id set (distance 0). Unreached vertices
    are absent from the result.

    Closes the reference's declared-but-never-implemented ``WeightedGraph``
    trait (/root/reference/crates/gravitydb/src/lib.rs:62-65: a weight
    between two nodes) the same way ReferencedProperties was closed: real
    semantics here, cited divergence-from-stub in COVERAGE.md.

    Frontier Bellman-Ford: each round relaxes only edges out of vertices
    whose distance IMPROVED last round (the classic SSSP-on-MapReduce
    formulation) — one equi-join + min-aggregate + improvement anti-filter
    per round, all shuffling on vertex id, ``localCheckpoint`` keeping the
    per-round plan O(1). Weights must be integers so min-merging is exact
    and fold-order independent (same engine-portability trick as
    ``pagerank_scaled``); scale fractional weights before calling.

    Converges in (weighted diameter in edges) rounds; raises RuntimeError
    if the frontier hasn't drained after ``max_iters`` (an unconverged
    distance table is silently wrong, and with a negative-weight cycle the
    frontier never drains — detected here rather than looping forever).
    """
    edges = edges.select(
        "from_id", "to_id", F.col("w").cast("long").alias("w")
    ).localCheckpoint(eager=False)
    dists = (
        sources.select("id")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    frontier = dists
    for _ in range(max_iters):
        relaxed = (
            edges.join(frontier, edges.from_id == frontier.id)
            .select(
                F.col("to_id").alias("id"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        improved = (
            relaxed.join(dists, "id", "left")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("id", F.col("cand").alias("dist"))
            .localCheckpoint()
        )
        if improved.isEmpty():
            return dists
        dists = (
            dists.unionByName(improved)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        frontier = improved
    raise RuntimeError(
        f"sssp_weighted did not converge in {max_iters} rounds "
        "(graph deeper than max_iters, or a negative-weight cycle)"
    )


def kcore_onion(
    und: DataFrame,
    k: int,
    max_rounds: int = 12,
    n_verts: int | None = None,
) -> DataFrame:
    """DF[id, peel_round: long] — iterative k-core peel ("onion
    decomposition") over a symmetrized edge DF[a, b] (each undirected
    edge present in both directions). Round r removes every vertex whose
    degree among still-alive vertices is < k; vertices removed in round r
    get ``peel_round`` = r, survivors (the k-core) get 0. The vertex set
    is the endpoints of ``und``; every vertex appears in the result.

    The peel is deterministic (a vertex's removal round depends only on
    the graph and k), so the result is engine-portable; the DuckDB oracle
    unrolls the same rounds as a CTE chain (extra rounds past the
    fixpoint are no-ops on both engines).

    Scale posture: each round is one degree aggregation plus two
    semi-joins, all shuffling on vertex id; ``localCheckpoint`` cuts the
    per-round lineage so the plan stays O(1). Rounds needed = onion
    depth, which is small (≤3 measured on the customer–supplier graph at
    every SF; social graphs are typically ≤ a few dozen). Raises if the
    peel hasn't reached its fixpoint in ``max_rounds`` — an unconverged
    decomposition is silently wrong.
    """
    edges = und.select("a", "b").localCheckpoint(eager=False)
    alive = und.select(F.col("a").alias("id")).distinct().localCheckpoint()
    peeled = []
    converged = False

    # count-gated broadcast hints (r13 opt, guide §3.1): the per-round
    # degree table and alive set are vertex-sized LogicalRDD/agg frames
    # whose size estimates compound round over round, so without a hint
    # every round plans SortMergeJoin and sorts the edge side three
    # times. ``n_verts`` bounds both; above the broadcast budget the
    # hint is dropped and the round degrades to the shuffle plan (100 TB
    # posture unchanged).
    # max_rounds REMOVAL rounds are budgeted (matching the oracle's CTE
    # unroll depth exactly), plus one confirming round that must remove
    # nothing — without it a peel of depth == max_rounds would raise here
    # while the oracle converges (off-by-one between the two engines)
    for r in range(1, max_rounds + 2):
        deg = edges.groupBy("a").agg(F.count("*").alias("d"))
        ad = alive.join(
            _maybe_broadcast(deg, n_verts), alive.id == deg.a, "left"
        ).select("id", F.coalesce("d", F.lit(0)).alias("d"))
        # lazy cut: the isEmpty probe materializes it in its own job
        removed = (
            ad.filter(F.col("d") < k).select("id").localCheckpoint(eager=False)
        )
        if removed.isEmpty():
            converged = True
            break
        if r > max_rounds:
            break  # removal in the confirm round: depth exceeds the budget
        peeled.append(
            removed.withColumn("peel_round", F.lit(r).cast("long"))
        )
        alive = ad.filter(F.col("d") >= k).select("id").localCheckpoint()
        edges = (
            edges.join(
                _maybe_broadcast(alive.select(F.col("id").alias("a")), n_verts),
                "a",
                "semi",
            )
            .join(
                _maybe_broadcast(alive.select(F.col("id").alias("b")), n_verts),
                "b",
                "semi",
            )
            .localCheckpoint(eager=False)
        )
    if not converged:
        raise RuntimeError(
            f"kcore_onion did not reach its fixpoint in {max_rounds} rounds"
        )
    out = alive.withColumn("peel_round", F.lit(0).cast("long"))
    for p in peeled:
        out = out.unionByName(p)
    return out


def truss_peel(
    pairs: DataFrame,
    k: int = 3,
    max_rounds: int = 8,
    n_edges: int | None = None,
) -> DataFrame:
    """DF[a, b, peel_round: long] — iterative k-truss peel over a
    canonically-oriented edge DF[a, b] (a < b, one row per undirected
    edge). Round r removes every edge whose SUPPORT — the number of
    triangles it closes among still-alive edges, |N(a) ∩ N(b)| — is
    < k − 2; edges removed in round r get ``peel_round`` = r, survivors
    (the k-truss) get 0. The truss is the edge-wise analog of the
    k-core: every surviving edge sits in ≥ k − 2 surviving triangles, a
    strictly stronger cohesion signal than connectivity (a transitive
    chain has no triangles at all).

    Deterministic like the core peel (an edge's removal round depends
    only on the graph and k), so a DuckDB oracle unrolls the same
    rounds as a CTE chain; rounds past the fixpoint remove nothing on
    either engine. Raises past ``max_rounds`` — an unconverged
    decomposition is silently wrong (same contract as kcore_onion).

    Scale posture: each round's support count enumerates each surviving
    triangle ONCE with the enumerator triangle_counts uses
    (:func:`_triangles`: degree-ordered orientation, O(m^1.5) wedge
    candidates regardless of skew; a hub in the pair graph contributes
    no wedges from its own huge neighborhood), then folds each
    triangle's three edges back to canonical (a, b) for the per-edge
    support groupBy; ``localCheckpoint`` cuts per-round lineage and the
    per-round orientation cache is dropped before the next round. Peel
    depth is the cascade length, small on near-dup pair graphs (dup
    families are dense cliques; bridges fall in round 1)."""
    edges = pairs.select("a", "b").localCheckpoint(eager=False)
    thr = k - 2
    peeled = []
    converged = False

    # count-gated hints (r14, the k-core recipe — guide §3.1): the
    # enumerator's degree table, wedge build side and closer set, and
    # the per-edge support table, are bounded by ``n_edges`` (edges only
    # shrink across rounds, so the first round's bound holds for all);
    # above the broadcast budget the hint is dropped.
    # max_rounds REMOVAL rounds budgeted + one confirming empty round
    # (the oracle's unroll depth counts removal rounds — same off-by-one
    # contract as kcore_onion)
    for r in range(1, max_rounds + 2):
        # barrier: three consumers share one degree pass; released below
        oriented, tri = _triangles(edges, n_edges, DataFrame.cache)
        # each triangle found exactly once → its three edges, re-canonized
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("x", "y").alias("a"),
                            F.greatest("x", "y").alias("b"),
                        ),
                        F.struct(
                            F.least("x", "z").alias("a"),
                            F.greatest("x", "z").alias("b"),
                        ),
                        F.struct(
                            F.least("y", "z").alias("a"),
                            F.greatest("y", "z").alias("b"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.a", "e.b")
            .groupBy("a", "b")
            .agg(F.count("*").alias("sup"))
        )
        es = edges.join(_maybe_broadcast(sup, n_edges), ["a", "b"], "left").select(
            "a", "b", F.coalesce("sup", F.lit(0)).alias("sup")
        )
        removed = es.filter(F.col("sup") < thr).select("a", "b").localCheckpoint()
        if removed.isEmpty():
            oriented.unpersist()
            converged = True
            break
        if r > max_rounds:
            oriented.unpersist()
            break  # removal in the confirm round: depth exceeds budget
        peeled.append(removed.withColumn("peel_round", F.lit(r).cast("long")))
        edges = (
            es.filter(F.col("sup") >= thr)
            .select("a", "b")
            .localCheckpoint()  # eager: materialize before the cache drops
        )
        oriented.unpersist()
    if not converged:
        raise RuntimeError(
            f"truss_peel did not reach its fixpoint in {max_rounds} rounds"
        )
    out = edges.withColumn("peel_round", F.lit(0).cast("long"))
    for p in peeled:
        out = out.unionByName(p)
    return out


def betweenness_scaled(
    und: DataFrame,
    sources: DataFrame,
    max_depth: int = 6,
    scale: int = 10**4,
    per_source: bool = False,
    frontier_rows: int | None = None,
) -> DataFrame:
    """DF[id, bc_scaled: long] — k-SOURCE BRANDES betweenness (the
    standard sampled approximation: exact dependency accumulation from
    the given source set, the estimator production centrality jobs run
    because all-pairs is O(nm)) over a symmetrized edge DF[a, b],
    bounded at ``max_depth`` BFS levels (both engines unroll exactly
    this many, so the truncation is part of the operator's contract,
    not an engine artifact).

    Forward pass: level-synchronous BFS per source with integer
    shortest-path counts σ (one frontier⋈edges join + groupBy per
    level, all sources ride one frame keyed by (s, v)). Backward pass:
    Brandes' dependency recurrence δ(v) = Σ_w σ(v)·(scale + δ(w)) DIV
    σ(w) over successor levels — scaled-BIGINT truncating division, so
    the accumulation is fold-order independent and the DuckDB oracle
    replays it bit-for-bit as an unrolled CTE chain (the same contract
    as pagerank_scaled). bc(v) = Σ_s δ_s(v), v ≠ s, reported in
    1/scale units; zero-centrality vertices are absent.

    Scale posture: each of ≤ 2·max_depth rounds is one equi-join +
    hash agg on (s, v); frontier frames are lineage-cut per level; σ
    and scaled δ stay far inside BIGINT for scale = 10⁴ (σ ≤ deg^depth
    path counts, term ≤ σ·(n+1)·scale)."""
    # count-gated broadcast hints (r13 opt, guide §3.1 + the r10 LPA
    # lesson): every per-level frame here is a lineage-cut LogicalRDD
    # whose size estimate compounds level over level, so without a hint
    # Spark plans SortMergeJoin and shuffles+sorts the edge side EVERY
    # round. A level holds at most one row per (source, vertex) pair and
    # the seen set is a disjoint union of levels, so ``frontier_rows`` =
    # k·n bounds both; callers pass it from counts they already hold.
    # Above the broadcast budget the hint is dropped and the join
    # degrades to the shuffle plan — the 100 TB posture is unchanged.
    lev = sources.select(
        F.col("s"), F.col("s").alias("v"), F.lit(1).cast("long").alias("sig")
    ).localCheckpoint()
    levels = [lev]
    seen = lev.select("s", "v").localCheckpoint()
    for _ in range(max_depth):
        cand = (
            und.join(
                _maybe_broadcast(
                    levels[-1].select("s", F.col("v").alias("a"), "sig"),
                    frontier_rows,
                ),
                "a",
            )
            .select("s", F.col("b").alias("v"), "sig")
        )
        nxt = (
            cand.groupBy("s", "v")
            .agg(F.sum("sig").cast("long").alias("sig"))
            .join(_maybe_broadcast(seen, frontier_rows), ["s", "v"], "left_anti")
            # lazy cut (r13): the isEmpty probe materializes it in its
            # own job — eager cut + probe measured 4 jobs vs 2
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
        seen = seen.unionByName(nxt.select("s", "v")).localCheckpoint(
            eager=False
        )
    deltas = [None] * len(levels)
    deltas[-1] = levels[-1].select(
        "s", "v", F.lit(0).cast("long").alias("delta")
    )
    succ_edges = und.select(F.col("a").alias("v"), F.col("b").alias("w"))
    for L in range(len(levels) - 2, -1, -1):
        wnext = levels[L + 1].join(
            _maybe_broadcast(deltas[L + 1], frontier_rows), ["s", "v"]
        ).select(
            "s",
            F.col("v").alias("w"),
            F.col("sig").alias("sig_w"),
            "delta",
        )
        contrib = (
            succ_edges.join(_maybe_broadcast(levels[L], frontier_rows), "v")
            .join(_maybe_broadcast(wnext, frontier_rows), ["s", "w"])
            .select(
                "s",
                "v",
                F.expr(f"sig * ({scale} + delta) DIV sig_w").alias("term"),
            )
        )
        agg = contrib.groupBy("s", "v").agg(
            F.sum("term").cast("long").alias("delta")
        )
        deltas[L] = (
            levels[L]
            .select("s", "v")
            .join(_maybe_broadcast(agg, frontier_rows), ["s", "v"], "left")
            .select(
                "s",
                "v",
                F.coalesce("delta", F.lit(0)).cast("long").alias("delta"),
            )
            # lazy: no per-round probe here — each round's plan is cut
            # (LogicalRDD) at mark time, and the caller's final action
            # materializes the chain in one job instead of one per level
            .localCheckpoint(eager=False)
        )
    alld = reduce(DataFrame.unionByName, deltas)
    if per_source:
        # (s, v, delta) before the source fold — the sample-accuracy
        # eval (g_betweenness_sample_eval, r12) aggregates it twice
        # (all sources = exact; restricted to srcs = sampled) so both
        # sides share every dependency value
        return alld
    return (
        alld.filter(F.col("v") != F.col("s"))
        .groupBy("v")
        .agg(F.sum("delta").cast("long").alias("bc_scaled"))
        .filter(F.col("bc_scaled") > 0)
        .select(F.col("v").alias("id"), "bc_scaled")
    )


def pagerank_weighted_scaled(
    verts: DataFrame,
    edges: DataFrame,
    iters: int = 5,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """DF[id, rank_scaled: long] — PageRank over WEIGHTED edges
    DF[from_id, to_id, w] (positive integer weights): each vertex
    distributes its rank proportionally to outgoing edge weight,
    ``contrib = (rank * w) DIV out_weight`` — all scaled-BIGINT integer
    arithmetic exactly like :func:`pagerank_scaled`, so the result is
    aggregation-order independent and value-matchable against the
    unrolled DuckDB recurrence. Completes the ``WeightedGraph`` closure
    begun by :func:`sssp_weighted` (lib.rs:62-65 declares the weights;
    nothing in the reference consumes them).

    Dangling vertices (no out-edges) redistribute uniformly via the same
    1-row broadcast aggregate as the unweighted variant. Products stay
    within BIGINT: rank ≤ scale and integer weights are small; for huge
    weights pre-normalize them."""
    n = verts.count()
    dn, dd = damping_num, damping_den
    base = (scale * (dd - dn)) // (dd * n)
    wsum = edges.groupBy("from_id").agg(F.sum("w").alias("wsum"))
    ranks = verts.select("id", F.lit(scale // n).cast("long").alias("rank"))
    e = edges.select("from_id", "to_id", "w").localCheckpoint(eager=False)
    for _ in range(iters):
        contribs = (
            e.join(wsum, "from_id")
            .join(ranks, e.from_id == ranks.id)
            .select(
                F.col("to_id").alias("id"),
                F.expr("(rank * w) DIV wsum").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("in_rank"))
        )
        dng = (
            ranks.join(
                wsum.select(F.col("from_id").alias("id")), "id", "left_anti"
            )
            .agg(
                F.expr(
                    f"cast(coalesce(sum(rank), cast(0 as bigint)) DIV {n} as bigint)"
                ).alias("dpn")
            )
        )
        ranks = (
            verts.select("id")
            .join(contribs, "id", "left")
            .crossJoin(F.broadcast(dng))
            .select(
                "id",
                F.expr(
                    f"cast({base} + ({dn} * (coalesce(in_rank, 0) + dpn)) DIV {dd}"
                    " as bigint)"
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("id", F.col("rank").alias("rank_scaled"))


def ppr_scaled(
    vertices: DataFrame,
    edges: DataFrame,
    sources: DataFrame,
    iters: int = 5,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """DF[id, rank: long] — PERSONALIZED PageRank in the same
    scaled-integer arithmetic as :func:`pagerank_scaled`: the teleport
    mass (and the dangling mass) returns to the ``sources`` set instead
    of spreading uniformly, so ranks measure proximity to the seed set —
    the standard recommendation / expansion primitive.

    Integer recurrence (flag_v = 1 iff v in sources, |S| = source count):
        rank0(v)  = flag_v * (scale DIV |S|)
        contrib   = rank DIV deg                    (per out-edge)
        dpn       = sum(dangling rank) DIV |S|
        rank'(v)  = flag_v * (base_s + (dn * dpn) DIV dd)
                    + (dn * in_rank(v)) DIV dd
        base_s    = (scale * (dd - dn)) DIV (dd * |S|)
    All ops integer, all values non-negative, so the result is
    aggregation-order-independent and bit-matchable against the DuckDB
    unrolled-CTE oracle running the identical recurrence."""
    ns = sources.count()
    if ns == 0:
        raise ValueError(
            "personalized pagerank: sources must be non-empty (the seed "
            "set receives all teleport mass; |S|=0 has no defined ranks)"
        )
    dn, dd = damping_num, damping_den
    base_s = (scale * (dd - dn)) // (dd * ns)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    flagged = (
        vertices.select("id")
        .join(
            sources.select("id", F.lit(1).alias("flag")), "id", "left"
        )
        .select("id", F.coalesce("flag", F.lit(0)).alias("flag"))
        .localCheckpoint(eager=False)  # reused every iteration
    )
    ranks = flagged.select(
        "id", (F.col("flag") * F.lit(scale // ns)).cast("long").alias("rank")
    )
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    for _ in range(iters):
        contribs = (
            edges.join(out_deg, "src")
            .join(ranks, edges.src == ranks.id)
            .select(F.col("dst").alias("id"), F.expr("rank DIV deg").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("in_rank"))
        )
        dng = _dangling_df(
            ranks, out_deg, f"coalesce(sum(rank), cast(0 as bigint)) DIV {ns}"
        )
        ranks = (
            flagged.join(contribs, "id", "left")
            .crossJoin(F.broadcast(dng))
            .select(
                "id",
                F.expr(
                    f"cast(flag * ({base_s} + ({dn} * dpn) DIV {dd})"
                    f" + ({dn} * coalesce(in_rank, 0)) DIV {dd} as bigint)"
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks

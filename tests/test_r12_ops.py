"""Round-12 operators and guards.

Covers the r11 ADVICE closures and the r12 VERDICT directives as they
land:
- _maybe_broadcast's debug-mode bound assertion (ADVICE #4): a stale or
  wrong caller-supplied row bound must fail loudly under
  GRAVITYSPARK_DEBUG_BCAST=1 instead of silently reintroducing the
  driver-OOM hint.
"""

import os

import pytest
import pyspark.sql.functions as F

from gravitydb_spark.registry import REGISTRY, queries

queries()  # populate REGISTRY (lazy module loading)


def test_retractions_by_id_bloom_prunes_unknown_ids(spark, sf_dir):
    """The keymap's id-Bloom pre-filter (r11 VERDICT #4): the forget
    feed carries never-seen mirror ids; every one of them must be
    bloom-pruned before the keymap probe (no keymap rows exist for
    them), the surviving set must cover all REAL forgotten ids (no
    false negatives — admission is oracle-pinned e2e), and the kb
    bucket list must shrink. Batches 0/2 are insert-only (no probe)."""
    from gravitydb_spark import pipeline_queries as pq

    pq._retractid_probe.clear()
    pq._retractid_probe["enabled"] = True
    try:
        REGISTRY["stream_dedup_retractions_by_id"].fn(spark, sf_dir).count()
        stats = {
            k: v for k, v in pq._retractid_probe.items() if k != "enabled"
        }
    finally:
        pq._retractid_probe.clear()
    assert set(stats) == {0, 1, 2}
    assert stats[0]["ids"] == 0 and stats[2]["ids"] == 0
    d = stats[1]
    # half the feed is the never-existing mirror set: pruned down to
    # the real ids (+ a tiny false-positive allowance — fpp 2^-7 over
    # ~50 unknown ids; measured 0 at sf0.001/0.01/0.1)
    real = d["ids"] // 2
    assert real <= d["maybe"] <= real + 3
    assert d["kbs_pruned"] < d["kbs_all"]


def test_lpa_maintain_delete_repair_undoes_published_state(spark):
    """The delete-repair contract that the e2e oracle hash can't isolate:
    a bridge edge inserted in batch 0 merges two chains' communities and
    those labels are PUBLISHED; batch 1 deletes the bridge (mixed with
    fresh inserts), and the maintained view must equal batch LPA on the
    final bridge-free graph — i.e. the protocol must republish a ball
    that undoes state it already wrote, via the signed edge store."""
    import os
    import shutil
    import tempfile

    from gravitydb_spark import graph_queries as gq
    from gravitydb_spark.streaming.microbatch import stage_batches

    n = 10
    work = tempfile.mkdtemp(prefix="lpa_del_test_")
    try:
        gp = os.path.join(work, "graph")
        ids = spark.createDataFrame(
            [(f"{s}{i:02d}", "p") for s in ("a", "b") for i in range(n)],
            "id string, prop_hash string",
        )
        stage_batches([ids], os.path.join(gp, "vertices"))

        def chain(s):
            return [
                (f"e{s}{i}", f"{s}{i:02d}", f"{s}{i + 1:02d}", "p", "i")
                for i in range(n - 1)
            ]

        sch = "edge_id string, src string, dst string, prop_hash string, op string"
        bridge = ("ebr", "a00", "b00", "p")
        b0 = spark.createDataFrame(chain("a") + [bridge + ("i",)], sch)
        b1 = spark.createDataFrame(chain("b") + [bridge + ("d",)], sch)
        stage_batches([b0, b1], os.path.join(gp, "edges"))

        out = gq._lpa_maintain_run(spark, work, gp, edge_ops=True)
        got = {(r["id"], r["community"]) for r in out.collect()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # batch LPA (same recurrence) on the final graph: two DISJOINT chains
    und = spark.createDataFrame(
        [
            (f"{s}{i:02d}", f"{s}{i + 1:02d}")
            for s in ("a", "b")
            for i in range(n - 1)
        ],
        "a string, b string",
    )
    und = und.unionByName(und.selectExpr("b AS a", "a AS b")).localCheckpoint()
    labels = und.selectExpr("a AS v").distinct().selectExpr("v", "v AS lab")
    for _ in range(gq._LPA_ROUNDS):
        votes = (
            und.join(F.broadcast(labels), und.b == labels.v)
            .select(und.a.alias("v"), "lab")
            .unionByName(labels.select("v", "lab"))
        )
        labels = (
            votes.groupBy("v", "lab")
            .agg(F.count("*").alias("c"))
            .groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lab"))
                ).alias("top")
            )
            .select("v", F.col("top.lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
    want = {(r["v"], r["lab"]) for r in labels.collect()}
    assert got == want
    # the bridge really is gone: no community spans the two chains
    comm_of = dict(got)
    a_comms = {comm_of[f"a{i:02d}"] for i in range(n)}
    b_comms = {comm_of[f"b{i:02d}"] for i in range(n)}
    assert not (a_comms & b_comms)


def test_pack_epoch_shards_replays_epoch_order(spark, sf_dir):
    """The data-loader contract (r11 VERDICT #7): reading shard s's
    packed sequences in (seq_id, seq_offset) order replays exactly the
    epoch permutation's shard-s segment, with contiguous token offsets
    (concat-and-chunk leaves no gaps)."""
    shuf = {
        (r["doc_id"]): (r["shard"], r["pos"])
        for r in REGISTRY["shuffle_epoch_shards"].fn(spark, sf_dir).collect()
    }
    rows = REGISTRY["pack_epoch_shards"].fn(spark, sf_dir).collect()
    assert len(rows) == len(shuf)
    by_shard = {}
    for r in rows:
        # shard/pos agree with the shuffle operator (same derivation)
        assert shuf[r["doc_id"]] == (r["shard"], r["pos"])
        by_shard.setdefault(r["shard"], []).append(r)
    from gravitydb_spark.pipeline_queries import SEQ_BUDGET

    for sh, rs in by_shard.items():
        rs.sort(key=lambda r: r["pos"])
        run = 0
        for r in rs:
            # packed offset = running token count in EPOCH order
            assert (r["seq_id"], r["seq_offset"]) == (
                run // SEQ_BUDGET,
                run % SEQ_BUDGET,
            ), (sh, r)
            end = run + max(r["n_tok"] - 1, 0)
            assert r["seq_id_end"] == end // SEQ_BUDGET
            run += r["n_tok"]


def test_harmonic_sample_eval_invariants(spark, sf_dir):
    """The eval's internal consistency: sampled top-T overlap ≤ T,
    reached counts ≤ n_eval, k matches the production derivation."""
    from gravitydb_spark.graph_queries import _bc_num_sources

    rows = {
        (r["metric"], r["t"]): r["value"]
        for r in REGISTRY["g_harmonic_sample_eval"].fn(spark, sf_dir).collect()
    }
    n = rows[("n_eval", 0)]
    assert rows[("k_sources", 0)] == _bc_num_sources(n)
    assert rows[("reached_exact", 0)] <= n
    assert rows[("reached_sampled", 0)] <= rows[("reached_exact", 0)]
    for t in (5, 10, 20):
        assert 0 <= rows[("top_overlap", t)] <= t


def test_betweenness_sample_eval_invariants(spark, sf_dir):
    """Betweenness sibling: same structural invariants, and the shared
    single-chain construction implies sampled scores ⊆ exact scores'
    vertex set (a vertex with sampled mass has exact mass)."""
    from gravitydb_spark.graph_queries import _bc_num_sources

    rows = {
        (r["metric"], r["t"]): r["value"]
        for r in REGISTRY["g_betweenness_sample_eval"]
        .fn(spark, sf_dir)
        .collect()
    }
    n = rows[("n_eval", 0)]
    assert rows[("k_sources", 0)] == _bc_num_sources(n)
    assert rows[("scored_sampled", 0)] <= rows[("scored_exact", 0)] <= n
    for t in (5, 10, 20):
        assert 0 <= rows[("top_overlap", t)] <= t


def test_skipgram_full_vocab_and_coverage(spark, sf_dir):
    """The full-vocab family's three contracts (r11 VERDICT #2): the
    vocabulary IS the full vertex set; edges-trained fraction is
    exactly 1.0 (counted); and trained edges separate from nonedges."""
    from gravitydb_spark import graph_queries as gq

    emb = REGISTRY["g_skipgram_full_embed"].fn(spark, sf_dir)
    vocab = {r["id"] for r in emb.select("id").distinct().collect()}
    verts = {
        r["a"]
        for r in gq._trade_und(spark, sf_dir).select("a").distinct().collect()
    }
    assert vocab == verts  # full vertex set, not the log-sized corpus
    rows = {
        r["grp"]: (r["n_pairs"], r["dot_sum_scaled"])
        for r in REGISTRY["g_skipgram_full_eval"].fn(spark, sf_dir).collect()
    }
    assert rows["edges_trained"][0] == rows["edges_total"][0]  # = 1.0
    ne_mean = rows["nonedge"][1] // rows["nonedge"][0]
    e_mean = rows["edge"][1] // rows["edge"][0]
    assert e_mean > ne_mean  # trained edges score higher


def test_skipgram_full_negative_coverage(spark, sf_dir):
    """Rendezvous negatives: nearly every positive drew a negative
    (only pairs hashing to an empty bucket miss — measured 0.22% at
    sf0.001, 0.02% at sf0.01), and negatives never exceed positives."""
    from gravitydb_spark import graph_queries as gq

    prs = gq._sgf_pairs(spark, sf_dir)
    d = {
        r["y"]: r["n"]
        for r in prs.groupBy("y").agg(F.count("*").alias("n")).collect()
    }
    assert d[0] <= d[1]
    assert d[0] >= 0.99 * d[1]


def test_skipgram_ivf_knn_matches_brute_force_mostly(spark, sf_dir):
    """IVF serving sanity: per query, the pruned top-k comes from the
    probed cells only, ranks are 1..k, and the top-1 pruned neighbour's
    dot is within the brute-force top-k dots (the probe covers the
    near-best region; exactness of values is oracle-pinned)."""
    emb = REGISTRY["g_skipgram_full_embed"].fn(spark, sf_dir)
    ivf = REGISTRY["g_skipgram_ivf_knn"].fn(spark, sf_dir).collect()
    from gravitydb_spark.graph_queries import _SGF_NQ, _SG_KNN_K, _SG_U

    by_q = {}
    for r in ivf:
        by_q.setdefault(r["src"], []).append(r)
    assert len(by_q) == _SGF_NQ
    evec = {}
    for r in emb.collect():
        evec.setdefault(r["id"], {})[r["dim"]] = r["emb_scaled"]
    for src, rs in by_q.items():
        assert sorted(r["rnk"] for r in rs) == list(
            range(1, min(_SG_KNN_K, len(rs)) + 1)
        )
        # brute-force check: the served top-1 is within the true top-5
        qs = evec[src]
        dots = sorted(
            (
                sum(qs[d] * v[d] for d in qs) // _SG_U
                for nid, v in evec.items()
                if nid != src
            ),
            reverse=True,
        )
        top1 = max(r["dot_scaled"] for r in rs)
        assert top1 >= dots[min(4, len(dots) - 1)]


def test_maybe_broadcast_debug_guard(spark):
    from gravitydb_spark import graph_queries as gq

    df = spark.range(100).select(F.col("id"))
    os.environ["GRAVITYSPARK_DEBUG_BCAST"] = "1"
    try:
        # correct bound: passes and returns a hinted frame
        out = gq._maybe_broadcast(df, 100)
        assert out.count() == 100
        # stale bound (claims fewer rows than the frame has): asserts
        with pytest.raises(AssertionError, match="bound violated"):
            gq._maybe_broadcast(df, 10)
    finally:
        os.environ.pop("GRAVITYSPARK_DEBUG_BCAST", None)
    # guard off: no count job, no assert, hint applied below the limit
    assert gq._maybe_broadcast(df, 10).count() == 100

"""Plan-shape regression guards: the physical plans that make this engine
work at 100 TB, asserted so a future change can't silently trade them away
(SCALE.md documents why each shape matters)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    from gravitydb_spark.registry import queries

    qs = queries()

    def plan_of(name: str) -> str:
        df = qs[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_q1_filter_pushdown_and_column_pruning(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1][:200]
    # column pruning: the scan must not read all 16 lineitem columns
    read = p.split("ReadSchema", 1)[1][:400]
    assert "l_comment" not in read


def test_q5_broadcasts_every_dimension(plans):
    p = plans("q5_region_revenue")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 5


def test_topk_compiles_to_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans("topk_parts_by_quantity")


def test_property_probe_is_pushed_predicate_not_join(plans):
    # literal Specific-probe: the hash-equality predicate reaches the
    # prop_refs scan (InMemoryTableScan filter list for the cached graph;
    # PushedFilters when reading parquet directly) — the probe is a scan
    # predicate, not a broadcast semi-join
    import re

    p = plans("g_vq_property")
    assert re.search(
        r"InMemoryTableScan \[[^\]]*\], \[[^\]]*prop_hash#\d+ = [0-9a-f]{64}", p
    )


def test_embedding_dedup_has_no_nested_loop(plans):
    p = plans("dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ngram_jaccard_join_and_cap_share_shuffle(plans):
    # the df-cap window and the self-join both hash-partition on shingle —
    # no extra aggregate+semi-join exchange pattern
    p = plans("dedup_ngram_jaccard")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_asof_join_is_window_not_range_explosion(plans):
    p = plans("events_asof_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_session_overlap_is_binned_equi_join(plans):
    # the interval overlap predicate must ride the bin equi-join, never
    # compile to a nested-loop range join over sessions²
    p = plans("events_session_overlap")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_filtered_ann_is_label_hash_join(plans):
    # the metadata filter must compile to a hash join on label (the
    # vec_id inequality rides as a join filter), never a nested loop
    p = plans("ann_filtered_topk")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_containment_cap_is_broadcast_ban_list_not_window(plans):
    # same df-cap discipline as dedup_ngram_jaccard: aggregated ban list
    # (broadcast anti-join), no shingle-partitioned window
    p = plans("dedup_ngram_containment")
    assert "windowspecdefinition(shingle" not in p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_ann_lsh_is_equi_join_on_bucket(plans):
    p = plans("ann_lsh_topk")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_jaccard_cap_is_broadcast_ban_list_not_window(plans):
    # the df cap must stay an aggregated ban list (broadcast anti-join),
    # not a window over the exploded relation (a full shuffle+sort per
    # join side — measured 6.9s vs 2.2s at sf0.1)
    p = plans("dedup_ngram_jaccard")
    # no window partitioned BY SHINGLE (the old cap); the shingle build's
    # own doc_id-partitioned lead-window inside the cache is fine
    assert "windowspecdefinition(shingle" not in p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_hash_sampling_is_shuffle_free_scan_filter(plans):
    p = plans("sample_documents_hash")
    assert "Exchange" not in p  # pure scan+filter, no shuffle at all


def test_vocab_topk_is_take_ordered_over_partial_agg(plans):
    p = plans("corpus_vocab_topk")
    assert "TakeOrderedAndProject" in p
    # the wordcount base is the shared memoized cache (one aggregation,
    # vocab-sized, reused by the count-min sketch); top-K never sorts
    # the full vocab, and the cached subtree still partial-aggregates
    # map-side (the shuffle carries vocabulary, not occurrences)
    assert "InMemoryTableScan" in p
    assert "partial_count" in p


def test_triangle_wedges_close_by_equi_join(plans):
    p = plans("dedup_pair_triangles")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pii_redact_is_pure_scan_project(plans):
    # regex masking is a per-row projection: no shuffle, no Python UDF
    p = plans("text_pii_redact")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_decontaminate_broadcasts_eval_set(plans):
    # the eval shingle set is small by construction -> broadcast probe,
    # never a shuffled or nested-loop join against the corpus
    p = plans("text_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_segment_dedup_ban_list_is_broadcast_anti_join(plans):
    p = plans("dedup_segments")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_kmeans_assignment_is_broadcast_equi_join(plans):
    # Lloyd assignment joins the exploded corpus against K*dim centroid
    # rows: broadcast equi-join + hash agg, never a nested loop
    p = plans("embed_kmeans")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_semantic_dedup_pairs_only_within_cluster(plans):
    # the pair join must carry the cluster equi-key (SortMergeJoin or
    # ShuffledHashJoin on cluster) — an all-pairs nested loop means the
    # cluster restriction was lost
    p = plans("dedup_semantic")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_pack_sequences_window_partitions_by_shard(plans):
    # the running token sum must partition by source (per-shard-parallel
    # packing); a global (empty-partition) window would serialize the
    # corpus through one task
    p = plans("pack_sequences")
    assert "hashpartitioning(source" in p
    assert "SinglePartition" not in p


def test_mix_domains_is_scan_plus_partial_agg(plans):
    # keep decision is a per-row predicate: no join anywhere, and the
    # rollup must have a map-side partial aggregate
    p = plans("mix_domains")
    assert "Join" not in p
    assert "partial_count" in p or "HashAggregate" in p


def test_cc_filters_is_pure_scan_project(plans):
    p = plans("text_cc_filters")
    assert "Exchange" not in p
    assert "Join" not in p


def test_substring_spans_duplicated_set_joins_on_shingle(plans):
    # span detection joins positioned shingles to the duplicated-shingle
    # set on the shingle key — never a doc-by-doc comparison
    p = plans("dedup_substring_spans")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_embed_outliers_single_cluster_window_no_join(plans):
    # one window over the cluster-partitioned shuffle; the only joins
    # allowed are inside the reused k-means subplan (broadcast centroid)
    p = plans("embed_outliers")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "hashpartitioning(cluster" in p


def test_bpe_pair_merge_is_take_ordered_over_partial_agg(plans):
    # pairs are built per-row (transform over the piece array), so the
    # ONLY shuffle is the map-side-partial pair aggregation and the top-K
    # is TakeOrderedAndProject — a corpus-wide token exchange (the old
    # lead()-window form) or a final-only aggregate is the regression
    p = plans("bpe_pair_merge")
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p
    # the only Window allowed is the rank over the final top-K rows,
    # ABOVE TakeOrderedAndProject (earlier in the tree dump = nearer root)
    assert p.count("+- Window") <= 1
    if "Window" in p:
        assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_lm_score_has_no_window_or_cartesian(plans):
    # bigram instances are built array-side (slice+arrays_zip+explode) —
    # no per-doc window shuffle; count tables partial-aggregate map-side
    p = plans("text_lm_score")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 4  # partial+final for both vocab tables


def test_random_projection_is_shuffle_free_scan(plans):
    # pure per-row projection: one scan, zero exchanges
    p = plans("embed_random_projection")
    assert "Exchange" not in p


def test_tfidf_no_cartesian_df_from_tf(plans):
    # df derives from the tf aggregate (vocab-sized), the corpus size N
    # joins as a broadcast 1-row aggregate — no nested loop over instances
    p = plans("text_tfidf_keywords")
    assert "CartesianProduct" not in p


def test_q6_all_predicates_pushed(plans):
    p = plans("q6_forecast_revenue")
    pushed = p.split("PushedFilters", 1)[1][:400]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read = p.split("ReadSchema", 1)[1][:300]
    assert "l_returnflag" not in read  # column pruning: only the 4 needed cols


def test_q14_part_dimension_broadcasts(plans):
    p = plans("q14_promo_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q4_exists_is_semi_join(plans):
    p = plans("q4_priority_exists")
    assert "LeftSemi" in p


def test_q22_not_exists_is_anti_join_with_broadcast_threshold(plans):
    p = plans("q22_idle_customers")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q19_disjunction_prunes_both_scans(plans):
    # the quantity disjunction must reach the lineitem scan as a data
    # filter (not evaluated only post-join)
    p = plans("q19_disjunctive_revenue")
    li_scan = p.split("lineitem.parquet", 1)[0]
    assert "l_quantity" in li_scan.rsplit("FileScan", 1)[-1] or "l_quantity" in p.split("DataFilters", 1)[1][:600]


def test_chunk_windows_is_shuffle_free_scan(plans):
    # sequence+explode+slice+md5: pure per-row array codegen, no shuffle
    p = plans("text_chunk_windows")
    assert "Exchange" not in p


def test_q2_decorrelated_min_no_cartesian(plans):
    # Q2's correlated-min decorrelation: agg ⋈ agg equi-join plus
    # broadcast dimension joins — never a cartesian/nested-loop pairing
    p = plans("q2_min_cost_supply")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3


def test_q11_threshold_reuses_cached_aggregate(plans):
    # the scalar threshold derives from the SAME cached per-part
    # aggregate the HAVING filters (fact read+shuffled once); the 1-row
    # threshold joins back as a broadcast, not a shuffle
    p = plans("q11_important_stock")
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_q15_max_view_is_cached_and_broadcast(plans):
    p = plans("q15_top_supplier")
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_q20_nested_in_is_semi_chain(plans):
    p = plans("q20_promo_suppliers")
    assert p.count("LeftSemi") >= 2
    assert "CartesianProduct" not in p


def test_q21_self_joins_are_semi_plus_anti(plans):
    # EXISTS → LeftSemi, NOT EXISTS → LeftAnti, orders gate → LeftSemi;
    # the supplier-inequality is a join residual, not a cartesian
    p = plans("q21_waiting_suppliers")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_hourly_grid_rollup_is_cached_not_rescanned(plans):
    # the gap-fill grid feeds bounds/types/join from ONE cached hourly
    # rollup — uncached, Catalyst inlines the subtree and scans the fact
    # three times (measured)
    p = plans("events_resample_gapfill")
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_anomaly_and_ewma_are_windows_over_cached_rollup(plans):
    for name in ("events_anomaly_zscore", "events_ewma_smooth"):
        p = plans(name)
        assert "InMemoryTableScan" in p, name
        assert "CartesianProduct" not in p, name
        assert "Window" in p, name


def test_adamic_adar_is_bounded_candidate_topk(plans):
    # candidate generation bounded by the cached per-customer top-5
    # (InMemoryTableScan), degree broadcast, final top-k TakeOrdered —
    # never an unbounded all-pairs product
    p = plans("g_adamic_adar")
    assert "InMemoryTableScan" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cube_expands_into_single_aggregation(plans):
    # CUBE = Expand (4 grouping sets map-side) into ONE shuffle, not a
    # union of four scans
    p = plans("agg_cube_flag_status")
    assert "Expand" in p
    assert p.count("FileScan") == 1


def test_range_window_no_cartesian(plans):
    p = plans("events_range_window")
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_edit_verify_joins_candidates_not_all_pairs(plans):
    p = plans("dedup_edit_verify")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_phash_pairs_by_bucket_equi_join(plans):
    p = plans("multimodal_phash_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "InMemoryTableScan" in p  # memoized hash table


def test_countmin_reuses_cached_wordcount(plans):
    p = plans("sketch_countmin_heavyhitters")
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_basket_items_cached_and_pair_join_keyed(plans):
    # the distinct (order, part) relation feeds four consumers through
    # ONE memoized cache; pairs join on the order key, never cross
    p = plans("basket_part_lift")
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p
    # the unbounded part-support aggregate must be pruned (left-semi
    # against the min-support-surviving pair parts) BEFORE any broadcast
    # — r4 VERDICT flagged the old forced broadcast of ALL parts as the
    # one weak-at-100TB shape
    assert "LeftSemi" in p
    assert "BroadcastExchange" in p


def test_bm25_filters_terms_before_aggregation(plans):
    # the query-term IN-filter must reach below the aggregation so the
    # shuffle carries query-sized rows
    p = plans("text_bm25_search")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    # EVERY token explode must sit under a query-term filter — the corpus
    # stats (N, avgdl) come from a doc-level size() projection, never an
    # unfiltered explode (probe-measured 7x-at-10x superlinear term, r5)
    import re

    for m in re.finditer(r"Generate explode", p):
        window = p[max(0, m.start() - 300) : m.start()]
        assert "IN (spark,data,value)" in window, "unfiltered token explode"


def test_profiler_is_single_aggregation_pass(plans):
    p = plans("profile_orders")
    assert p.count("FileScan") == 1
    assert "CartesianProduct" not in p


def test_cohort_and_transition_share_user_partitioning(plans):
    for name in ("events_cohort_retention", "events_transition_matrix"):
        p = plans(name)
        assert "CartesianProduct" not in p, name


def test_build_corpus_composition_shape(plans):
    # the composed pipeline must keep each stage's audited shape: no
    # cartesian anywhere, the decontamination/mix drops are semi/anti
    # joins, and the shared shingle/signature relations come from the
    # memoized caches (InMemoryTableScan), not re-derivation
    p = plans("pipeline_build_corpus")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftAnti" in p
    assert "InMemoryTableScan" in p


def test_vocab_approx_path_stays_bounded(spark, sf_dir):
    # the exact=False count-min path must keep the broadcast-counter
    # shape: no cartesian, counters broadcast, TakeOrdered for the cut
    from gravitydb_spark.pipeline_queries import corpus_vocab_topk

    df = corpus_vocab_topk(spark, sf_dir, exact=False)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_feature_snapshot_single_user_shuffle(plans):
    # all four per-stream features must resolve in ONE user-partitioned
    # window pass — exactly one hash exchange on user_id, never four
    # as-of self-joins
    p = plans("events_feature_snapshot")
    assert p.count("Exchange hashpartitioning(user_id") == 1
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_pq_assignment_and_adc_are_map_side(plans):
    # r5 VERDICT directive #2: code assignment is one Arrow-vectorized
    # mapInPandas over the corpus scan closed over the broadcast-sized
    # trained codebook (no corpus x M x K explosion, no row_number
    # Exchange) and ADC is element_at lookups over the broadcast
    # per-query LUT — the ONLY shuffle in the whole scoring plan is the
    # final per-query top-k window
    p = plans("ann_pq_topk")
    assert p.count("Exchange hashpartitioning") == 1, p[:3000]
    assert "Exchange hashpartitioning(q_id" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    # the corpus-to-queries pairing is the intentional broadcast of the
    # bounded query set; encoding/LUT are the two MapInPandas kernels
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("MapInPandas") == 2, p[:3000]
    assert "element_at" in p


def test_hybrid_rrf_legs_stay_bounded(plans):
    # the vector leg cuts to top-20 with TakeOrderedAndProject BEFORE
    # any rank window (no corpus-sized single-partition sort); fusion
    # joins two bounded lists — no SortMergeJoin anywhere
    p = plans("search_hybrid_rrf")
    # both legs cut with TakeOrderedAndProject before their rank windows
    assert p.count("TakeOrderedAndProject") >= 2
    # the only SortMergeJoin is the full-outer fusion of the two 20-row
    # lists (full outer cannot broadcast) — bounded by construction
    assert p.count("SortMergeJoin") <= 1
    assert "FullOuter" in p
    assert "CartesianProduct" not in p


def test_mix_token_budget_no_explode_broadcast_dim(plans):
    # token counts are size() projections (the BM25 lesson: an unfiltered
    # token explode was the probe-measured superlinear term) and the
    # per-source rate dim joins back as a broadcast
    p = plans("mix_token_budget")
    assert "Generate explode" not in p and "Generate posexplode" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_zonemap_is_projection_plus_single_agg(plans):
    # the z bucket id is a pure projection (no window, no global sort);
    # the only exchange is the 32-group aggregate + the output order
    p = plans("layout_zorder_zonemap")
    assert "Window" not in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_pq_rerank_post_shortlist_is_bounded(plans):
    # the ADC shortlist is localCheckpointed (barrier: it feeds two
    # broadcasts), so the visible plan is the re-rank stage: broadcast
    # joins of the bounded shortlist against the raw vectors, one
    # Exchange for the final per-query window — no corpus-sized sort
    # or cartesian pairing
    p = plans("ann_pq_rerank_topk")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1, p[:3000]


def _lplan_nodes(jnode):
    """Flatten a Catalyst logical-plan tree (py4j) depth-first."""
    out = [jnode]
    ch = jnode.children()
    for i in range(ch.size()):
        out.extend(_lplan_nodes(ch.apply(i)))
    return out


def test_no_unbounded_global_windows_anywhere(spark, sf_dir):
    """r6 VERDICT directive #6: a Window with an EMPTY partition spec
    serializes the whole input through one task — fine only when that
    input is already bounded by a prior limit/top-k (the RRF fusion's
    20-row lists). Assert it for EVERY registered query's returned
    plan, so a future operator can't ship a corpus-sized global window
    silently. Compounds are skipped (their plan is a union of member
    plans already checked; running them would just re-execute every
    member). Streaming/iterative queries return localCheckpointed
    results whose visible plan is the (window-free) checkpoint scan —
    trivially compliant, which is correct: their per-batch plans are
    guarded by their own tests."""
    from gravitydb_spark.gate_queries import COMPOUND_MEMBERS
    from gravitydb_spark.registry import queries

    # Streaming/foreachBatch and collect-driven operators return a
    # localCheckpoint scan or a driver-literal LocalTableScan — trivially
    # window-free — but CALLING them executes the full multi-batch
    # stream/training loop (minutes of redundant work, r7 ADVICE). Their
    # per-batch plans are guarded by the tests each registry.PLAN_EXEMPT
    # entry cites; skip them here.
    import pathlib
    import re

    from gravitydb_spark.registry import PLAN_EXEMPT

    qs = queries()
    # companion guard (r8 ADVICE): the skip is an EXPLICIT registry
    # attribute (registry.PLAN_EXEMPT), not a naming convention, and
    # every exemption must name at least one real test file that
    # actually mentions the query — so a future streaming operator
    # can't become exempt by its name alone, and an exemption can't
    # point at coverage that doesn't exist.
    from gravitydb_spark.registry import REGISTRY

    here = pathlib.Path(__file__).parent
    problems = []
    for name, reason in PLAN_EXEMPT.items():
        if name not in qs:
            problems.append(f"{name}: exempt but not registered")
            continue
        cited = re.findall(r"test_\w+\.py", reason)
        missing = [f for f in cited if not (here / f).exists()]
        if missing:
            problems.append(f"{name}: cited test file(s) absent: {missing}")
            continue
        mentioned = any(name in (here / f).read_text() for f in cited)
        # two accepted evidence forms: a dedicated test that names the
        # query, or a declared full-result oracle check ("oracle-e2e" —
        # the driver value-hash-matches the query against its batch
        # oracle every round; the claim requires the oracle to exist)
        oracle_e2e = (
            "oracle-e2e" in reason and REGISTRY[name].oracle is not None
        )
        if not (mentioned or oracle_e2e):
            problems.append(
                f"{name}: no cited test mentions it and no oracle-e2e claim"
            )
    streaming_unlisted = [
        n
        for n in qs
        if n not in COMPOUND_MEMBERS
        and n.startswith("stream_")
        and n not in PLAN_EXEMPT
    ]
    assert not problems and not streaming_unlisted, (
        problems,
        streaming_unlisted,
    )
    offenders = []
    for name, fn in qs.items():
        if name in COMPOUND_MEMBERS:
            continue
        if name in PLAN_EXEMPT:
            continue
        df = fn(spark, sf_dir)
        for node in _lplan_nodes(df._jdf.queryExecution().optimizedPlan()):
            if node.nodeName() != "Window":
                continue
            if node.partitionSpec().size() > 0:
                continue
            below = _lplan_nodes(node)[1:]
            if not any(
                d.nodeName() in ("GlobalLimit", "LocalLimit") for d in below
            ):
                offenders.append(name)
                break
    assert not offenders, f"unbounded global Window in: {offenders}"


def test_ivfpq_is_pruned_adc_plus_bounded_rerank(plans):
    # in-cell ADC: broadcast probes/LUT, no cartesian pairing, no
    # corpus-sized sort-merge; the only hash Exchanges are the IVF
    # assignment window and the per-query shortlist/final windows
    p = plans("ann_ivfpq_topk")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3
    assert "mapInPandas" in p or "MapInPandas" in p  # Arrow encode/LUT kernels


def test_bpe_sampled_apply_result_is_driver_literal(plans):
    # training collapses to a bounded driver sample; the returned frame
    # is the assembled merge table (a LocalTableScan) — the corpus-wide
    # apply pass already ran as one mapInPandas aggregate
    p = plans("bpe_sampled_apply")
    assert "LocalTableScan" in p or "Scan ExistingRDD" in p
    assert "Exchange" not in p


def test_quality_lr_train_result_is_driver_literal(plans):
    # same contract: per-step aggregates are 1-row collects; the result
    # frame is the packed weight table, no lingering corpus plan
    p = plans("quality_lr_train")
    assert "LocalTableScan" in p or "Scan ExistingRDD" in p
    assert "Exchange" not in p


def test_percolate_bucketed_join_is_guard_pruned(plans):
    """r8 VERDICT directive #5: the registry-scale percolation path must
    (1) join the corpus token stream against the 1-row-per-query GUARD
    map by broadcast (never the full registry against every token),
    and (2) run the full-conjunction verification only over candidate
    docs — a left-semi prune on doc_id (an equi-semi-join; shuffled is
    fine, it's output-proportional in the candidate set) — with no
    cartesian pairing anywhere."""
    p = plans("search_percolate_bucketed")
    assert "BroadcastHashJoin" in p
    assert "LeftSemi" in p  # the candidate-doc prune feeding verification
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# -- zoe read plans on a graph loaded from parquet -------------------------
#
# Literal id sets compile to LocalRelations (exact size statistics) or to
# predicates pushed into the edges scan, never to Python-RDD scans; a read
# plans no branch for a result side it knows is empty.

# a tiny road network; "o'b\\x" checks the quoting of literal ids
_READ_NODES = ("va", "vb", "vc", "vd", "o'b\\x")
_READ_EDGES = (("va", "vb"), ("vb", "vc"), ("va", "vd"), ("vd", "vc"), ("o'b\\x", "va"))


@pytest.fixture(scope="module")
def read_graph(spark, tmp_path_factory):
    from gravitydb_spark import GraphBatchBuilder, Prop, PropertyGraph

    b = GraphBatchBuilder()
    for n in _READ_NODES:
        b.add_node(Prop("City", n), id=n)
    eids = {(s, d): b.add_edge(s, d, Prop("road", f"{s}-{d}")) for s, d in _READ_EDGES}
    path = str(tmp_path_factory.mktemp("read_graph") / "g")
    b.build(spark).save(path)
    return PropertyGraph.load(spark, path), eids


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs_of(spark, fn) -> int:
    """Exact number of Spark jobs ``fn`` runs, by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"read-plan-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _ids(df, col="id") -> list:
    return sorted(r[col] for r in df.collect())


def test_id_lookup_plans_no_rdd_scan_and_no_edge_branch(read_graph):
    from gravitydb_spark import execute
    from gravitydb_spark.ql import vq_from_ids

    g, _ = read_graph
    df = execute(g, vq_from_ids(["vb"])).extract_properties()
    plan = _executed(df)
    assert "ExistingRDD" not in plan
    assert "/edges" not in plan
    assert _ids(df) == ["vb"]


def test_hop_off_literal_set_is_pushed_edges_predicate(read_graph):
    from gravitydb_spark import execute
    from gravitydb_spark.ql import vq_from_ids

    g, _ = read_graph
    res = execute(g, vq_from_ids(["va"]).outgoing().outgoing())
    df = res.extract_properties()
    plan = _executed(df)
    assert "ExistingRDD" not in plan
    scans = [s for s in plan.split("FileScan")[1:] if "/edges" in s]
    assert scans and any(
        "va" in s.split("PushedFilters: [", 1)[1].split("]", 1)[0] for s in scans
    )
    assert _ids(df) == ["vb", "vd"]
    # quoting: an id with a quote and a backslash still matches exactly
    res = execute(g, vq_from_ids(["o'b\\x"]).outgoing().outgoing())
    assert _ids(res.vertices) == ["va"]


def test_read_job_counts(spark, read_graph):
    from gravitydb_spark import execute
    from gravitydb_spark.ql import vq_from_ids

    g, _ = read_graph
    one_hop = vq_from_ids(["va"]).outgoing().outgoing()
    two_hop = one_hop.outgoing().outgoing()
    id_lookup = vq_from_ids(["va"])
    for q in (id_lookup, two_hop):  # first-use costs out of the count
        execute(g, q).extract_properties().collect()
    id_jobs = _jobs_of(spark, lambda: execute(g, id_lookup).extract_properties().collect())
    hop_jobs = _jobs_of(spark, lambda: execute(g, two_hop).extract_properties().collect())
    assert id_jobs <= 3, id_jobs
    assert hop_jobs <= 5, hop_jobs
    assert _ids(execute(g, two_hop).vertices) == ["vc"]


def test_shuffle_free_reads_are_planned_without_aqe(spark, read_graph):
    """A read whose joins are all broadcasts runs its static plan; one
    with a shuffle keeps AQE, which re-plans around it."""
    from gravitydb_spark import execute
    from gravitydb_spark.graph import _scoped_conf
    from gravitydb_spark.ql import vq_from_ids

    g, _ = read_graph
    q = vq_from_ids(["va"]).outgoing().outgoing()
    df = execute(g, q).extract_properties()
    assert "BroadcastHashJoin" in _executed(df)
    assert "AdaptiveSparkPlan" not in _executed(df)
    assert _ids(df) == ["vb", "vd"]
    with _scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1", "10485760"):
        df = execute(g, q).extract_properties()
        assert _executed(df).startswith("AdaptiveSparkPlan")
        assert _ids(df) == ["vb", "vd"]


def test_specific_keeps_unknown_ids_and_ignores_duplicates(read_graph):
    """Contexts are built without a store lookup (kv_graph_store.rs:151-155,
    229-233): unknown ids pass through into the result sets."""
    from gravitydb_spark import execute
    from gravitydb_spark.ql import eq_from_ids, vq_from_ids

    g, eids = read_graph
    res = execute(g, vq_from_ids(["va", "nope", "va"]))
    assert _ids(res.vertices) == ["nope", "va"]
    assert _ids(res.extract_properties()) == ["va"]
    assert _ids(res.edges) == []
    ab = eids[("va", "vb")]
    res = execute(g, eq_from_ids([ab, "no-edge", ab]))
    assert _ids(res.edges) == sorted([ab, "no-edge"])
    assert _ids(res.extract_properties()) == [ab]
    assert _ids(res.vertices) == []
    # duplicates in a hop's literal set give the same result
    dup = execute(g, vq_from_ids(["va", "va", "vd"]).outgoing().outgoing())
    assert _ids(dup.vertices) == _ids(
        execute(g, vq_from_ids(["va", "vd"]).outgoing().outgoing()).vertices
    ) == ["vb", "vc", "vd"]


def test_set_op_reads_leave_no_persistent_rdds(spark, read_graph):
    from gravitydb_spark import execute
    from gravitydb_spark.ql import VertexQuery, vq_from_ids

    g, _ = read_graph
    a = vq_from_ids(["va"]).outgoing().outgoing()
    b = vq_from_ids(["vd"]).outgoing().outgoing()
    def persistent() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    for kind in ("Union", "Intersect", "Substract", "DisjunctiveUnion"):
        # each side used twice, so the compiler's memo shares it
        q = VertexQuery(kind, (VertexQuery("Union", (a, b)), VertexQuery(kind, (a, b))))
        execute(g, q).extract_properties().collect()
    # DisjunctiveUnion reads each side as frontier and as key set
    sym = execute(g, VertexQuery("DisjunctiveUnion", (a, b)))
    assert _ids(sym.vertices) == ["vb", "vc", "vd"]
    # path properties fold each path's steps and join the path back
    paths = execute(g, a).extract_path_properties().collect()
    assert len(paths) == 2 and all(r["props"] for r in paths)
    assert not persistent() - before

"""Physical-plan regression tests — the scale contract, enforced.

Each test asserts a plan property that the 100 TB design depends on
(shuffle counts, pushdown, top-k strategy, group-limit pushdown). A
refactor that silently reintroduces an exchange or loses pushdown
fails CI here, not in a cluster bill.

Plans are inspected via ``explain("formatted")`` text on the sf0.001
tables (plan shape is scale-invariant; AQE may coalesce partitions at
runtime but the static exchange/scan structure is what we pin).
"""

from __future__ import annotations

import re

from stakehouse_etl_spark.queries.catalog import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(plan: str) -> int:
    # Shuffle exchanges only — broadcast exchanges are free-ish by design.
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_w2_income_single_shuffle(spark):
    plan = plan_of(spark, "w2_income_epoch_hourly")
    assert count_exchanges(plan) == 1, plan


def test_sessionize_single_shuffle(spark):
    plan = plan_of(spark, "ts_sessionize")
    assert count_exchanges(plan) == 1, plan


def test_income_with_withdrawals_two_shuffles(spark):
    # One per aggregated side; the (user, epoch) join and the income
    # windows reuse the user_id layout (SPARK-35703 subset match).
    plan = plan_of(spark, "w1_income_with_withdrawals")
    assert count_exchanges(plan) == 2, plan


def test_q3_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan, plan


def test_q6_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed
    # Column pruning: the 11-column lineitem scans 4 columns.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read_schema.count(":") <= 5, read_schema


def test_q5_dimensions_broadcast(spark):
    plan = plan_of(spark, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan


def test_tfidf_group_limit_pushdown(spark):
    plan = plan_of(spark, "text_tfidf_top_terms")
    assert "WindowGroupLimit" in plan, plan


def test_predicate_kernel_no_shuffle(spark):
    plan = plan_of(spark, "p_predicate_kernel")
    assert count_exchanges(plan) == 0, plan


def test_no_cartesian_anywhere_in_bench_suite(spark):
    for name, q in QUERIES.items():
        if not q.bench or name in ("pipeline_corpus_clean",):
            continue  # corpus pipeline drives an iterative loop — skipped
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_funnel_single_shuffle(spark):
    # Three chained whole-partition MIN windows share one user_id
    # exchange; the final groupBy(user_id) reuses it too.
    plan = plan_of(spark, "ts_funnel_conversion")
    assert count_exchanges(plan) == 1, plan


def test_scd2_single_shuffle(spark):
    # lag-filter-lead/row_number all on (user_id; ts, event_id):
    # exchange AND sort reused across the windows.
    plan = plan_of(spark, "ts_scd2_history")
    assert count_exchanges(plan) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_rolling_range_single_shuffle(spark):
    plan = plan_of(spark, "ts_rolling_1h_range")
    assert count_exchanges(plan) == 1, plan


def test_ols_trend_single_shuffle(spark):
    # row_number window and the moment groupBy both cluster on user_id.
    plan = plan_of(spark, "ml_group_ols_trend")
    assert count_exchanges(plan) == 1, plan


def test_tree_rollup_single_shuffle_no_join(spark):
    # Ancestor-path explosion: the whole hierarchy rollup is one
    # explode + one aggregation exchange — no join, no iteration.
    plan = plan_of(spark, "graph_tree_rollup")
    assert count_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan


def test_bloom_prefilter_broadcasts_both_sides(spark):
    # The bucket set and the exact key set must both reach the probe
    # side as broadcasts: the orders scan flows through two
    # BroadcastHashJoin LeftSemi with NO shuffle before the final agg.
    plan = plan_of(spark, "j13_bloom_prefilter_join")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_ohlc_single_shuffle_no_window(spark):
    # min_by/max_by fold open/close into the grouped pass: one exchange
    # (the groupBy), zero Window operators.
    plan = plan_of(spark, "ts_resample_ohlc")
    assert count_exchanges(plan) == 1, plan
    assert "Window" not in plan, plan


def test_asof_tolerance_single_shuffle(spark):
    # Union-timeline as-of: both inputs union THEN shuffle once on
    # user_id for the window; no join operator at all.
    plan = plan_of(spark, "j12_asof_tolerance")
    assert count_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan


def test_grouping_sets_single_expand(spark):
    # GROUPING SETS must plan as one Expand + aggregate, not N scans.
    plan = plan_of(spark, "a_grouping_sets")
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1, plan
    # customer+nation+region scanned once each — no per-set rescan.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 3, plan


def test_null_safe_join_is_hash_not_bnlj(spark):
    # <=> keys hash like values: must plan as a hash join, never a
    # nested-loop over the NULL partition.
    plan = plan_of(spark, "j17_null_safe_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_drill_across_no_fact_to_fact_join(spark):
    # Both fact tables aggregate BEFORE the dimension merge: the plan
    # joins aggregated (post-HashAggregate) sides only — a fact-to-fact
    # row join would multiply measures.
    plan = plan_of(spark, "j15_drill_across")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_url_normalize_scan_only_no_shuffle(spark):
    # Pure column kernel: zero exchanges, single scan (higher-order
    # array lambdas keep the outer Project off codegen; the plan is
    # still scan→project with no data movement).
    plan = plan_of(spark, "text_url_normalize")
    assert count_exchanges(plan) == 0, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_bpe_pretokens_scan_only_no_shuffle(spark):
    plan = plan_of(spark, "text_bpe_pretoken_stats")
    assert count_exchanges(plan) == 0, plan


def test_chunking_scan_only_generate(spark):
    # Explode over per-row chunk arrays: no shuffle, one Generate.
    plan = plan_of(spark, "corpus_chunk_documents")
    assert count_exchanges(plan) == 0, plan
    assert "Generate" in plan


def test_skew_cumsum_no_cartesian_and_bounded_shuffles(spark):
    plan = plan_of(spark, "w1_skew_hotkey")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # stats agg + chunked window + chunk totals + offsets join + final agg:
    # the decomposition costs extra exchanges by design — bound them so a
    # refactor doesn't quietly add more.
    assert count_exchanges(plan) <= 6, plan


def test_incremental_dedup_no_cartesian(spark):
    plan = plan_of(spark, "dedup_incremental_batch")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_bm25_two_shuffles_and_take_ordered(spark):
    """The wave-20 re-plan contract: BM25 runs as ONE per-doc
    aggregate + broadcast scalars (2 shuffle exchanges total — the
    per-doc groupBy and the final top-10), never the 12-exchange
    tf/dl/df join chain it replaced (PLANS.md)."""
    plan = plan_of(spark, "text_bm25_topk")
    # static formatted plan duplicates the per-doc agg subtree under
    # the broadcast stats branch and counts the fan_out round-robin
    # exchange (AQE reuses/elides at runtime — the executed plan shows
    # 2 hash exchanges); the old join-chain plan had 12+
    assert count_exchanges(plan) <= 7, plan[:3000]
    assert "TakeOrderedAndProject" in plan


def test_semantic_prune_no_cartesian(spark):
    """SemDeDup's pair join must stay an equi-join on centroid_id —
    a refactor that loses the key degenerates to all-pairs."""
    plan = plan_of(spark, "dedup_semantic_prune")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_dpp_runtime_pruning_flagged(spark):
    """j21 carries dynamic partition pruning in its fact scan (the
    full assertion with the partitioned table lives in test_dpp.py;
    here we pin that the query still routes through a join, not a
    collected literal filter)."""
    plan = plan_of(spark, "j21_dpp_month_join")
    assert "LocalTableScan" in plan or "Scan" in plan


def test_ks_two_sample_no_rowscale_global_window(spark):
    """Wave-35 contract: the KS ECDF runs through the two-phase
    prefix (chunked windows + broadcast offsets), so the only global
    windows in the plan operate on the chunk-total table — never on
    the row-scale fact side. Proxy assertion: no Cartesian/BNLJ
    beyond the intended 1-row total broadcast, and a bounded
    exchange count for the whole statistic."""
    plan = plan_of(spark, "ml_ks_two_sample")
    assert "Cartesian" not in plan
    # distinct-value collapse + 2 prefix passes, each now RECURSIVE
    # (r4: global_prefix_sum levels=2 — the chunk-total prefix itself
    # chunks, adding a metadata-sized window+agg+join layer per pass)
    # + totals broadcast + final agg; the static plan double-counts
    # broadcast subtrees (same caveat as the BM25 pin), hence the
    # generous bound. The extra exchanges vs the r3 pin (14) all
    # operate on n/chunk_width² chunk-total tables, not row-scale
    # data.
    assert count_exchanges(plan) <= 30, plan


def test_decision_stump_take_nothing_global(spark):
    plan = plan_of(spark, "ml_decision_stump")
    # argmin is a TakeOrderedAndProject over the candidate table, not
    # a global Sort.
    assert "TakeOrderedAndProject" in plan, plan
    assert "Cartesian" not in plan


def test_benford_partial_agg_before_shuffle(spark):
    plan = plan_of(spark, "dq_benford_digits")
    # 9-digit groupBy must partial-aggregate map-side: the plan shows
    # two HashAggregates around a single exchange for the digit rollup.
    assert plan.count("HashAggregate") >= 2
    assert "Cartesian" not in plan


def test_lpa_argmax_partitions_on_node_label(spark):
    plan = plan_of(spark, "graph_lpa_round")
    # per-node argmax must be a row_number window, not a self-join max
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_theilsen_rank_is_decomposed(spark):
    """The 3M-pair median selection must NOT funnel through one
    'Window [row_number... ORDER BY ...]' over the raw pair table:
    skew_resistant_rank's windows are partitioned by value/chunk
    keys. The only unpartitioned window allowed is the one over the
    distinct-value offset table."""
    plan = plan_of(spark, "ts_theilsen_slope")
    # the pair generator is an inequality join (BNLJ over the tiny
    # spine is expected); no full Cartesian without condition
    assert "CartesianProduct" not in plan, plan


def test_snm_candidates_from_window_not_selfjoin(spark):
    plan = plan_of(spark, "dedup_snm_pairs")
    # blocking = lead() window; the only joins are the candidate->word
    # equi-joins. A refactor to an all-pairs self-join would show up
    # as an extra non-equi join or cartesian.
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_hhi_two_grouped_passes_broadcast_dims(spark):
    plan = plan_of(spark, "a_hhi_concentration")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan  # dims must broadcast
    assert "Cartesian" not in plan


def test_span_inventory_no_cartesian_no_global_window(spark):
    # The islands merge must window on doc_id (row-parallel), never a
    # single-partition global window, and the dup-gram join is an
    # equi-join on the gram fingerprint — no cartesian anywhere.
    plan = plan_of(spark, "dedup_span_inventory")
    assert "CartesianProduct" not in plan, plan
    assert not (
        "SinglePartition" in plan and "Window" in plan
    ), plan


def test_span_scrub_no_cartesian_reads_two_columns(spark):
    # The scrub touches only (doc_id, text): column pruning must reach
    # the documents scan — reading lang/source/n_chars at 100 TB would
    # double the scan bytes for nothing.
    plan = plan_of(spark, "corpus_span_scrub")
    assert "CartesianProduct" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_lsh_verify_joins_never_broadcast_the_set_side(spark):
    # The candidate-verify joins (candidates ⨝ per-doc sorted sets)
    # must not broadcast the set side (repetitive arrays compress
    # under AQE's broadcast threshold while deserializing to a
    # multi-GB hash relation — r5 sf10 driver OOM) and must not
    # hash-build it either (the per-task LongToUnsafeRowMap holds the
    # partition's slice of a DOC-scale table, growing linearly with
    # corpus at fixed partitions — r8 sf30 executor OOM in
    # corpus_drop_ledger). Sort-merge is the only arm whose memory is
    # bounded at any scale; hint("MERGE") pins it on both set sides.
    # ADVICE r8: the old same-line regex (`BroadcastHashJoin.*set`)
    # missed multi-line explain output where the set-side scan sits in
    # the indented subtree below the join node. r10: the BHJ-count
    # proxy broke the other way — the empty-candidate short-circuit
    # materializes the candidate PAIRS (exact tiny stats), so the
    # planner now correctly broadcasts the pair side in many joins.
    # Pin the actual invariant instead: no BroadcastExchange node may
    # carry a set-array column (the formatted explain lists each
    # node's Output, so a set side slipping off its MERGE pin shows up
    # as a set column inside a BroadcastExchange section).
    set_cols = ("sh_set", "__set_o", "__set_n", "shingle_set", "__arr")
    for q in ("dedup_minhash_lsh", "dedup_prefix_filter_pairs"):
        plan = plan_of(spark, q)
        assert plan.count("SortMergeJoin") >= 2, (q, plan)
        for sect in re.split(r"\n\n", plan):
            if re.match(r"\(\d+\) BroadcastExchange", sect):
                assert not any(c in sect for c in set_cols), (q, sect)


def test_span_scrub_span_join_is_sort_merge(spark):
    # r11: the token-scale covered-positions anti-join was replaced by
    # a doc-keyed LEFT join of the merged-span table onto the token
    # arrays (complement slicing in _scrub_tail). The memory argument
    # carries over unchanged: the span side is doc-scale (one row per
    # span-carrying doc) and AQE's compressed stats would sneak it
    # under the broadcast threshold — the r5/r8 OOM class — so the
    # join stays pinned sort-merge, the only spilling arm. Pin BOTH
    # halves of the restructure: the span join is a sort-merge
    # LeftOuter, and the old token-scale anti-join is gone.
    for q in ("corpus_span_scrub", "dedup_span_incremental"):
        plan = plan_of(spark, q)
        assert re.search(r"SortMergeJoin.*LeftOuter", plan), (q, plan)
        assert not re.search(r"SortMergeJoin.*LeftAnti", plan), (q, plan)


def test_rrf_global_window_is_k_bounded(spark):
    """ADVICE r5 exemption pin: sim_hybrid_rrf_topk's fused_rank runs a
    partitionBy-less window, which the repo convention forbids on
    row-scale data — HERE the window input is the full outer join of
    two top-k (k=10) rank lists, <= 20 rows at any corpus scale, so the
    single-partition sort is metadata-sized by construction. Pin both
    halves of that argument: (a) each arm feeding the join is
    rank-bounded before the join (WindowGroupLimit / rank filter
    upstream of the final window), and (b) the plan stays free of
    row-scale global-sort shapes (no Cartesian; exactly one
    single-partition exchange — the bounded one)."""
    plan = plan_of(spark, "sim_hybrid_rrf_topk")
    assert "Cartesian" not in plan
    # Every SinglePartition exchange in the plan is k-bounded: the two
    # arm top-k windows (their own documented bounded global sorts)
    # plus the fusion's fused_rank — never a fourth on row-scale data.
    assert plan.count("SinglePartition") <= 3, plan
    # The arms cap to rank <= 10 before the fusion join (group-limit
    # pushdown and/or an explicit rank filter upstream of the window).
    assert plan.count("WindowGroupLimit") >= 1, plan
    assert re.findall(r"(?:rnk|rank)#\d+L? <= 10", plan), plan


def test_winnowing_no_hash_recompute_below_fanout(spark):
    """Round-6 sf10 fuzz pins: (a) the short-doc filter must NOT drag
    the gram+md5 pipeline below fan_out's exchange (predicate pushdown
    substitutes the alias — the 250 s straggler-stage bug), so no
    Filter node may contain md5(); (b) the window minimum runs as the
    codegen'd window aggregate (a Window node exists), not interpreted
    per-window array math."""
    plan = plan_of(spark, "text_winnowing_fingerprints")
    assert "(1) Window" in plan or re.search(r"\(\d+\) Window\b", plan), plan
    for m in re.finditer(r"\(\d+\) Filter\b.*?\n((?:.+\n)+?)\n", plan):
        assert "md5(" not in m.group(1), m.group(1)

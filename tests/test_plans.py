"""Plan-quality gates (scale contract): each headline query's physical
plan must keep the properties that make it viable at 100 TB —
regressions here fail even when results stay correct."""

from __future__ import annotations

import pytest

from speculare_pgcdc_spark.plans import (
    broadcast_hash_join_count,
    exchange_count,
    has_python_eval,
    plan_string,
    pushed_filters,
    read_schemas,
)
from speculare_pgcdc_spark.queries import load_all

REGISTRY = load_all()


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def build(name):
        return REGISTRY[name].fn(spark, sf_dir)

    return build


def test_filters_reach_parquet_scan(q):
    pf = pushed_filters(q("q04_filter_predicates"))
    assert "GreaterThanOrEqual(o_totalprice,1000" in pf
    assert "LessThanOrEqual(o_totalprice,5000" in pf
    assert "StringStartsWith(o_orderpriority,1-" in pf


def test_column_pruning_reaches_scan(q):
    # Q3 projects 4 source columns; the scan must read exactly those
    schemas = read_schemas(q("q03_projection"))
    assert schemas and schemas[0] == {
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    }


def test_q15_scan_prunes_and_pushes(q):
    df = q("q15_groupby_agg")
    assert "LessThanOrEqual(l_shipdate" in pushed_filters(df)
    (schema,) = read_schemas(df)
    assert schema == {
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate",
    }


def test_join_agg_broadcasts_and_single_shuffle(q):
    df = q("q07_join_agg")
    assert broadcast_hash_join_count(df) == 1
    # one hash shuffle (the aggregation); the only other exchange is the
    # final presentation sort
    assert exchange_count(df, "hashpartitioning") == 1


def test_partial_aggregation_before_shuffle(q):
    p = plan_string(q("q15_groupby_agg"))
    assert "partial_sum" in p  # map-side combine


def test_asof_merge_has_no_join_single_key_shuffle(q):
    # merge as-of: union + 1 key shuffle + window; the join+argmax
    # form's per-key candidate blow-up must not reappear
    df = q("q13_asof_join")
    p = plan_string(df)
    assert "Join" not in p
    assert exchange_count(df, "hashpartitioning") == 1


def test_topk_never_global_sorts(q):
    p = plan_string(q("q25_topk"))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_cosine_topk_is_shuffle_free(q):
    # zip_with/aggregate fold + broadcast NL join + TakeOrdered: the only
    # exchange allowed is the single-row broadcast of the query vector
    df = q("q43_cosine_topk")
    p = plan_string(df)
    assert "TakeOrderedAndProject" in p
    assert exchange_count(df, "hashpartitioning") == 0
    assert not has_python_eval(df)


def test_cdc_pipeline_stays_jvm_side(q):
    # the hot path (parse -> explode -> normalize -> lookup) must never
    # cross into Python
    for name in ("q35_cdc_pipeline", "q36_dsl_route"):
        assert not has_python_eval(q(name)), name


def test_jaccard_join_is_equi_not_nested_loop(q):
    p = plan_string(q("q42_jaccard_neardup"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_hypertable_lookup_is_literal_map_no_join(q):
    # catalog-sized lookups inline as a literal map (the reference's
    # startup-loaded HashMap, cdc/mod.rs:49-72): the CDC hot path must
    # carry NO join at all — profiled ~2x on q35 vs the broadcast join
    p = plan_string(q("q35_cdc_pipeline"))
    assert "Join" not in p


def test_hypertable_lookup_falls_back_to_broadcast_join(q, monkeypatch):
    # catalogs over the inline cap keep the broadcast-join path
    from speculare_pgcdc_spark.cdc import pipeline as pl

    monkeypatch.setattr(pl, "LOOKUP_INLINE_MAX_ROWS", 0)
    p = plan_string(q("q35_cdc_pipeline"))
    assert "BroadcastHashJoin" in p


def test_routing_is_literal_no_join(q):
    # a registry-sized subscription frame rides the plan as one literal
    # map (the reference's HashMap<table, HashSet<id>> indexes,
    # forwarder/mod.rs:75-143): routing carries no join and no broadcast
    p = plan_string(q("q36_dsl_route"))
    assert "Join" not in p
    assert "BroadcastExchange" not in p


def test_routing_falls_back_to_broadcast_join(q, monkeypatch):
    # registries over the inline cap keep the broadcast-join path
    from speculare_pgcdc_spark.cdc import pipeline as pl

    monkeypatch.setattr(pl, "LOOKUP_INLINE_MAX_ROWS", 0)
    joins = [
        line for line in plan_string(q("q36_dsl_route")).splitlines()
        if "BroadcastHashJoin" in line
    ]
    # the hypertable lookup falls back too: pick the routing join out
    assert any("_s_table" in line for line in joins), joins


def test_tpch_q5_pushdown_and_join_strategy(q):
    df = q("q57_tpch_q5_local_supplier")
    pf = pushed_filters(df)
    # selective predicates must reach the scans, not evaluate post-join
    assert "GreaterThanOrEqual(o_orderdate,1997-01-01" in pf
    assert "EqualTo(r_name,ASIA)" in pf
    # world-bounded dims are hint-broadcast at any scale
    assert broadcast_hash_join_count(df) >= 1
    assert not has_python_eval(df)


def test_tpch_topk_never_global_sorts(q):
    for name in ("q56_tpch_q3_shipping_priority",
                 "q58_tpch_q10_returned_items",
                 "q60_tpch_q18_large_orders"):
        p = plan_string(q(name))
        assert "TakeOrderedAndProject" in p, name


def test_tpch_q12_join_is_equi_not_nested_loop(q):
    # lateness predicate compares columns across the join; it must ride
    # on the equi-join as a post-join condition, not force a BNLJ
    p = plan_string(q("q59_tpch_q12_late_lines"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_sliding_window_single_shuffle(q):
    # T2: the size/slide fan-out happens map-side (expand), then one
    # shuffle for the agg
    df = q("q55_sliding_window")
    assert exchange_count(df, "hashpartitioning") <= 1
    assert not has_python_eval(df)


def test_binned_range_join_is_equi_not_nested_loop(q):
    p = plan_string(q("q67_binned_range_join"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert not has_python_eval(q("q67_binned_range_join"))


def test_salted_agg_two_phase(q):
    df = q("q68_salted_agg")
    # partial (key, salt) agg + final key agg -> exactly 2 key shuffles
    assert exchange_count(df, "hashpartitioning") == 2
    assert not has_python_eval(df)


#: queries whose PURPOSE is the Python UDF surface (X-family) — every
#: other registered query must stay entirely JVM-side
PYTHON_ALLOWED = {
    "q40_python_udf",
    "q40_pandas_udf",
    "q41_grouped_map_zscore",
    "q41_grouped_agg_udaf",
    "q75_udtf_ngrams",
    # bounded per-partition sketch: at most summary_size rows leave the
    # Arrow-batched mapInPandas; the exact recount stays JVM-side
    "q100_heavy_hitters",
    # multimodal 1:N / 1:1 plumbing IS the mapInPandas contract under test
    "q164_frame_sampling",
    "q175_image_resize_standin",
}


def test_entire_registry_is_jvm_side_except_udf_family(q):
    offenders = [
        name
        for name in sorted(REGISTRY)
        if name not in PYTHON_ALLOWED and has_python_eval(q(name))
    ]
    assert not offenders, f"Python crept into hot paths: {offenders}"


def test_q80_range_frame_has_no_global_window_over_data(q):
    """q23's global RANGE frame moves every row into ONE WindowExec
    task; its scale companion q80 must keep all data-sized windows
    partitioned (by _bin) — the only unpartitioned window allowed is
    the bins-cumulative over the one-row-per-bin aggregate (_bt)."""
    import re

    p = plan_string(q("q80_range_frame_binned"))
    lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert lines, "expected Window nodes in the q80 plan"
    saw_partitioned = saw_bins = False
    for ln in lines:
        spec_head = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert spec_head, ln
        unpartitioned = (
            " ASC" in spec_head.group(1) or " DESC" in spec_head.group(1)
        )
        if unpartitioned:
            assert "sum(_bt" in ln, f"global window over data: {ln.strip()}"
            saw_bins = True
        else:
            saw_partitioned = True
    assert saw_partitioned and saw_bins


def test_cdc_apply_no_window_broadcast_merge(q):
    # q96: latest-change-per-key must be a hash/sort AGGREGATE (max_by),
    # never a row_number window (global-ish sort of the batch), and the
    # base-side merge must be a broadcast join of the (small) change
    # batch, not a shuffle of the snapshot
    df = q("q96_cdc_apply")
    p = plan_string(df)
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert not has_python_eval(df)


def test_cdc_matview_refresh_joins_are_broadcast(q):
    # q97: the IVM refresh must never shuffle the snapshot or the view
    # for its joins — touched-group semi/anti joins ride on broadcasts
    p = plan_string(q("q97_cdc_incremental_matview"))
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" not in p


def test_q101_exists_is_semi_join_not_nested_loop(q):
    # Q4's EXISTS must compile to a LEFT SEMI equi-join on l_orderkey
    # with the shipdate comparison riding as a post-join condition
    p = plan_string(q("q101_tpch_q4_order_priority"))
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q102_all_predicates_reach_scan(q):
    df = q("q102_tpch_q6_forecast_revenue")
    pf = pushed_filters(df)
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in pf
    assert "GreaterThanOrEqual(l_discount,0.04)" in pf
    assert "LessThan(l_quantity,24" in pf
    (schema,) = read_schemas(df)
    assert schema == {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    }


def test_q104_dims_broadcast_and_part_filter_pushes(q):
    df = q("q104_tpch_q8_market_share")
    assert "EqualTo(p_type,PROMO)" in pushed_filters(df)
    # part/supplier/nation/region all hint-broadcast
    assert broadcast_hash_join_count(df) >= 4
    assert not has_python_eval(df)


def test_q106_outer_join_keeps_orderless_customers(q):
    # the exclusion predicate must NOT push below the outer join's
    # stream side as a WHERE (that would drop order-less customers);
    # plan must stay an equi outer join
    p = plan_string(q("q106_tpch_q13_custdist"))
    assert "LeftOuter" in p
    assert "CartesianProduct" not in p


def test_q112_exists_pair_is_one_aggregate_no_rescan(q):
    # the EXISTS/NOT-EXISTS pair collapses to one per-order aggregate
    # over a checkpointed flagged frame: lineitem must never appear as
    # two correlated re-scans (0 = both consumers read the checkpoint,
    # whose one-time lineage holds the single scan)
    p = plan_string(q("q112_tpch_q21_waiting_suppliers"))
    assert p.count("lineitem.parquet") <= 1
    assert "Scan ExistingRDD" in p  # the shared checkpointed aggregate
    assert "TakeOrderedAndProject" in p


def test_q114_ewma_is_jvm_side_bounded_frame(q):
    df = q("q114_ewma")
    p = plan_string(df)
    assert not has_python_eval(df)
    # bounded ROWS frame, partitioned by user — no single-partition
    # global window over the data
    assert "specifiedwindowframe(RowFrame, -7, currentrow$())" in p
    assert "windowspecdefinition(user_id" in p


def test_q115_fuzzy_match_is_blocked_equi_join(q):
    # the blocking key makes this an equi-join; levenshtein evaluates
    # on bucketed candidates only — never a cartesian product
    p = plan_string(q("q115_fuzzy_match"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "levenshtein" in p


def test_q117_unpivot_is_single_expand_pass(q):
    # melt must compile to one Expand over one scan — not a UNION ALL
    # of N per-metric scans (the oracle phrasing reads lineitem 4x)
    p = plan_string(q("q117_unpivot"))
    assert p.count("lineitem.parquet") == 1
    assert "Expand" in p


def test_q119_transitions_use_window_not_self_join(q):
    # the bigram pairing is one lead() on the user shuffle; the naive
    # consecutive-rank self-join would show a second join + exchange
    df = q("q119_sequence_transitions")
    p = plan_string(df)
    assert "Window" in p
    assert "Join" not in p
    assert not has_python_eval(df)


def test_q121_pagerank_iterations_stay_jvm_side(q):
    # the driver loop moves only the loop counter: every iteration is
    # joins + aggs over checkpointed frames, no Python eval anywhere
    df = q("q121_pagerank")
    assert not has_python_eval(df)
    p = plan_string(df)
    assert "Scan ExistingRDD" in p  # per-round lineage truncation
    assert "CartesianProduct" not in p


def test_q124_basket_join_is_equi_on_order_key(q):
    p = plan_string(q("q124_market_basket"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_q127_q128_single_user_series_shuffle(q):
    # stacked windows/aggs on the same partitioning must plan ONE
    # hash exchange (plus none hidden in python)
    for name in ("q127_time_weighted_avg", "q128_ohlc_bars"):
        df = q(name)
        assert exchange_count(df, "hashpartitioning") <= 1, name
        assert not has_python_eval(df), name


def test_q129_grouping_sets_is_single_expand_pass(q):
    p = plan_string(q("q129_grouping_sets"))
    assert p.count("orders.parquet") == 1
    assert "Expand" in p


def assert_banded_windows_only(p: str):
    """The banded-rank contract (rankband.py; q80/q163/q170 family):
    every UNPARTITIONED window in the plan must run over the
    one-row-per-bin aggregate (its sort line carries the __bcnt /
    bcnt / _bt bin-count column), never over data grain."""
    import re

    lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert lines, "expected Window nodes in the plan"
    for ln in lines:
        spec_head = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert spec_head, ln
        if " ASC" in spec_head.group(1) or " DESC" in spec_head.group(1):
            assert "bcnt" in ln or "_bt" in ln, (
                f"global window over data grain: {ln.strip()}"
            )


def test_q130_quartiles_banded_no_data_grain_global_window(q):
    # quartiles are a global property, but the plan must not contain a
    # customer-grain single-partition window: all three metric ranks
    # ride the banded rewrite (cumsum over the tiny bin aggregate +
    # in-bin partitioned prefix windows)
    assert_banded_windows_only(plan_string(q("q130_rfm_segmentation")))


def test_q184_deciles_banded_no_data_grain_global_window(q):
    # same contract for the Lorenz deciles: the only unpartitioned
    # windows are the bin cumsum and the 10-row decile cum-share
    import re

    p = plan_string(q("q184_lorenz_deciles"))
    for ln in (l for l in p.splitlines() if "Window [" in l):
        head = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert head, ln
        if " ASC" in head.group(1) or " DESC" in head.group(1):
            # allowed: the bin cumsum (bcnt) and the cum-share window
            # ordered by decile — a 10-row post-aggregate frame
            assert "bcnt" in ln or "decile#" in head.group(1), (
                f"global window over data grain: {ln.strip()}"
            )


def test_q187_vocab_rank_banded_no_data_grain_global_window(q):
    # the Zipf rank must come from the banded rewrite, not a
    # vocabulary-grain row_number window
    p = plan_string(q("q187_zipf_regression"))
    assert "row_number" not in p
    assert_banded_windows_only(p)


def test_q122_tfidf_equi_joins_partitioned_rank_no_python(q):
    # tf-idf must stay bounded hash aggs + token equi-joins; the
    # top-3 cut is a doc_id-PARTITIONED rank (never a global window),
    # the N broadcast never shuffles, and nothing crosses to Python
    import re

    df = q("q122_tfidf")
    p = plan_string(df)
    assert not has_python_eval(df)
    assert "CartesianProduct" not in p
    # the only nested-loop is the broadcast attach of the 1-row N
    assert p.count("BroadcastNestedLoopJoin") <= 1
    for ln in (l for l in p.splitlines() if "Window [" in l):
        head = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert head and "doc_id" in head.group(1), (
            f"unpartitioned rank window: {ln.strip()}"
        )


def test_q123_bigram_lm_tokens_equi_join_no_python(q):
    # the LM score joins ride token equi-keys; the only windows are
    # per-doc lead() windows on the doc_id shuffle
    import re

    df = q("q123_bigram_lm_score")
    p = plan_string(df)
    assert not has_python_eval(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    for ln in (l for l in p.splitlines() if "Window [" in l):
        head = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert head and "doc_id" in head.group(1), (
            f"unpartitioned window: {ln.strip()}"
        )


def test_q100_heavy_hitters_recount_is_broadcast_semi(q):
    # the MG sketch is the ONLY Python (bounded Arrow mapInPandas);
    # the exact recount must semi-join the corpus against a BROADCAST
    # candidate set — the corpus never shuffles on the item key
    p = plan_string(q("q100_heavy_hitters"))
    assert "MapInPandas" in p
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_q131_share_window_single_shuffle_no_join(q):
    df = q("q131_ratio_to_report")
    p = plan_string(df)
    assert "Join" not in p  # unframed window, not agg + join-back
    assert exchange_count(df, "hashpartitioning") == 1


def test_q143_segment_dedup_no_cartesian_and_pruned_scan(q):
    df = q("q143_segment_dedup")
    p = plan_string(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the documents scan must read only (doc_id, text)
    assert {"doc_id", "text"} in read_schemas(df)


def test_q144_kl_joins_are_equi_with_broadcast_marginals(q):
    df = q("q144_kl_source_drift")
    p = plan_string(df)
    assert "CartesianProduct" not in p
    # only the 1-row corpus-total cross is allowed to be nested-loop
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert broadcast_hash_join_count(df) >= 1  # src totals broadcast


def test_q146_triangle_joins_are_equi(q):
    df = q("q146_triangle_count")
    p = plan_string(df)
    assert "CartesianProduct" not in p
    # wedge + closing joins are equi; only the 1-row n_edges cross may
    # be nested-loop
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_q147_q148_stats_broadcast_single_fact_shuffle(q):
    for name in ("q147_zscore_outliers", "q148_iqr_outliers"):
        df = q(name)
        assert broadcast_hash_join_count(df) >= 1, name
        # only wide stage on the fact: the tiny per-type stats agg
        assert exchange_count(df, "hashpartitioning") == 1, name


def test_q150_part_filter_pushes_and_argmin_single_window(q):
    df = q("q150_min_cost_supplier")
    p = plan_string(df)
    assert "LessThan(p_size,10)" in pushed_filters(df)
    assert "CartesianProduct" not in p
    # exactly one argmin Window operator; WindowGroupLimit operators
    # (Spark's rank<=k pushdown, which prunes per-group candidates
    # BEFORE the full window sort) are expected extras, not re-sorts
    assert p.count("Window [") == 1


def test_q151_lineitem_scan_pruned_no_nested_loop(q):
    df = q("q151_dominant_supplier")
    p = plan_string(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert {"l_partkey", "l_suppkey", "l_quantity"} in read_schemas(df)


def test_q152_quality_rules_single_pass_no_join_jvm_side(q):
    df = q("q152_quality_rules")
    p = plan_string(df)
    assert "Join" not in p  # all rules are column expressions
    assert not has_python_eval(df)


def test_q153_scd2_single_key_shuffle_no_join(q):
    df = q("q153_scd2_history")
    p = plan_string(df)
    assert "Join" not in p
    assert exchange_count(df, "hashpartitioning") == 1


def test_q154_quantizer_model_is_broadcast(q):
    df = q("q154_embedding_quantization")
    assert broadcast_hash_join_count(df) >= 1  # 64-row model side
    assert "CartesianProduct" not in plan_string(df)


def test_q155_pmi_window_join_is_equi_not_nested_loop(q):
    df = q("q155_pmi_cooccurrence")
    p = plan_string(df)
    assert "CartesianProduct" not in p
    # the (doc_id, pos+delta) pair join and both marginal joins are
    # equi; only the 1-row totals crosses (n_occ x n_pairs, then the
    # broadcast of that single row) may be nested-loop
    assert p.count("BroadcastNestedLoopJoin") <= 2


def test_q156_cumulative_window_runs_over_day_aggregate(q):
    df = q("q156_new_users_curve")
    p = plan_string(df)
    assert "Join" not in p
    # the unbounded running frame must sit ABOVE the day-grain
    # aggregate (window input is bounded by distinct days, not events)
    assert p.index("Window") < p.index("HashAggregate")


def test_q158_explode_runs_over_deduped_grain(q):
    df = q("q158_rolling_distinct_users")
    p = plan_string(df)
    # the 7x contribution explode (Generate) must sit ABOVE the
    # (user, day) dedup aggregate — fan-out of active pairs, never of
    # raw events
    assert p.index("Generate") < p.index("HashAggregate", p.index("Generate"))
    assert "CartesianProduct" not in p


def test_q159_product_aggregate_is_single_hash_agg(q):
    df = q("q159_compound_growth")
    p = plan_string(df)
    assert "Join" not in p
    assert exchange_count(df, "hashpartitioning") == 1
    assert "partial" in p  # map-side partial before the shuffle


def test_q160_bucketed_join_has_no_join_side_exchange(q):
    df = q("q160_bucketed_join")
    p = plan_string(df)
    assert "SortMergeJoin" in p
    # bucket-to-bucket join: the ONLY shuffle in the whole plan is the
    # final mktsegment aggregate — neither join input exchanges
    assert exchange_count(df, "hashpartitioning") == 1
    assert "SelectedBucketsCount" in p  # scans are bucket-aware


def test_q161_packing_single_stream_window_no_join(q):
    df = q("q161_sequence_packing")
    p = plan_string(df)
    assert "Join" not in p
    # one running-cumsum window over the per-source shuffle
    assert p.count("Window [") == 1
    assert exchange_count(df, "hashpartitioning") == 1


def test_q162_pps_single_stream_shuffle_no_join(q):
    df = q("q162_pps_systematic_sample")
    p = plan_string(df)
    assert "Join" not in p
    assert exchange_count(df, "hashpartitioning") == 1


def test_q163_skyline_global_window_only_over_bin_aggregate(q):
    """The q80 contract applied to the skyline: the only unpartitioned
    window runs over the one-row-per-bin aggregate; every data-grain
    window is partitioned by bin."""
    import re

    p = plan_string(q("q163_pareto_frontier"))
    for ln in (l for l in p.splitlines() if "Window [" in l):
        head = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert head, ln
        if " DESC" in head.group(1) or " ASC" in head.group(1):
            # unpartitioned → must be the bin-level cummax
            assert "bmax" in ln, f"global window over data grain: {ln}"


def test_q166_filter_becomes_partition_filter_not_data_filter(q):
    """The event_type predicate must prune DIRECTORIES (PartitionFilters
    on the partitioned layout), not run as a row filter over a full
    scan."""
    p = plan_string(q("q166_partition_pruning"))
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "event_type" in m.group(1), p[-500:]


def test_q165_merged_read_remains_columnar_parquet_scan(q):
    df = q("q165_schema_evolution")
    p = plan_string(df)
    assert "FileScan parquet" in p
    assert "Join" not in p  # one merged scan, not a per-generation union


def test_q167_q169_single_hash_agg_no_window(q):
    for name in ("q167_conversion_latency", "q169_decay_engagement"):
        df = q(name)
        p = plan_string(df)
        assert "Window" not in p, name  # conditional-min agg, not windows
        assert exchange_count(df, "hashpartitioning") == 1, name


def test_q168_moments_broadcast_over_minute_grain(q):
    df = q("q168_burst_detection")
    assert broadcast_hash_join_count(df) >= 1
    # minute-grain agg + per-type moments reuse: two hash shuffles max
    assert exchange_count(df, "hashpartitioning") <= 2


def test_q170_rank_global_window_only_over_bin_aggregate(q):
    """The banded-rank contract (same as q163): unpartitioned windows
    may only run over the one-row-per-bin aggregate."""
    import re

    p = plan_string(q("q170_banded_percent_rank"))
    for ln in (l for l in p.splitlines() if "Window [" in l):
        head = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert head, ln
        if " ASC" in head.group(1) or " DESC" in head.group(1):
            assert "bcnt" in ln, f"global window over data grain: {ln}"


def test_q171_profile_is_single_scan_single_agg(q):
    df = q("q171_table_profile")
    p = plan_string(df)
    # one scan feeding one aggregation — never a scan per column
    assert p.count("FileScan parquet") == 1
    assert "Join" not in p and "Union" not in p


def test_q172_overlap_join_is_fingerprint_equi(q):
    p = plan_string(q("q172_source_overlap"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q173_salted_join_shuffles_on_key_plus_salt(q):
    """The hot key must spread: the join exchanges partition on
    (event_type, _salt), not event_type alone."""
    import re

    p = plan_string(q("q173_salted_join"))
    assert "CartesianProduct" not in p
    ex = [
        ln for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln and "_salt" in ln
    ]
    assert ex, "no exchange partitioned on the salt"


def test_q176_weighted_median_single_group_shuffle(q):
    df = q("q176_weighted_median")
    p = plan_string(df)
    assert "Join" not in p
    # cumulative + group-total windows and the final agg all ride one
    # l_returnflag shuffle
    assert exchange_count(df, "hashpartitioning") == 1


def test_q177_cusum_windows_share_one_series_shuffle(q):
    df = q("q177_cusum_changepoints")
    p = plan_string(df)
    # two running windows (cumsum + running-min) over the same
    # per-series order: exactly one Sort below the windows per branch
    assert "CartesianProduct" not in p
    assert broadcast_hash_join_count(df) >= 1  # moments broadcast back


def test_q182_window_rides_user_equi_join_not_theta(q):
    """The 3-day conversion window must be a post-join filter on the
    user_id equi-join, never a time-range nested loop."""
    p = plan_string(q("q182_windowed_funnel"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q188_split_assignment_is_scan_time_no_extra_shuffle(q):
    # the split column must be a pure projection over the scan (no
    # join, no window); the per-source rollup joins back broadcast
    df = q("q188_train_split")
    p = plan_string(df)
    assert "Window" not in p
    assert broadcast_hash_join_count(df) >= 1
    assert "SortMergeJoin" not in p


def test_q189_skew_profile_single_wide_stage(q):
    # the per-key agg is the only corpus-sized shuffle; the profile
    # and tier rollups ride broadcasts over the pinned key aggregate
    df = q("q189_skew_profile")
    p = plan_string(df)
    assert "SortMergeJoin" not in p
    assert not has_python_eval(df)


def test_q190_dim_profile_single_scan_single_agg(q):
    df = q("q190_embedding_dim_profile")
    p = plan_string(df)
    assert p.count("FileScan parquet") == 1
    assert "Join" not in p
    assert not has_python_eval(df)
    # the scan reads only the embedding column
    schemas = read_schemas(df)
    assert schemas and schemas[0] == {"embedding"}


def test_q191_leakage_no_window_no_join(q):
    # segment fingerprint agg + constant rollup: no windows (q143's
    # occurrence window is NOT needed here), no join at all
    df = q("q191_split_leakage")
    p = plan_string(df)
    assert "Window" not in p and "Join" not in p
    assert not has_python_eval(df)


def test_q194_median_banded_no_data_grain_window(q):
    # exact global median must ride the banded rank: no row_number,
    # unpartitioned windows only over the bin aggregate
    p = plan_string(q("q194_exact_global_median"))
    assert "row_number" not in p
    assert_banded_windows_only(p)


def test_q195_weighted_sample_is_takeordered(q):
    # fixed-K weighted sample: TakeOrdered reduction, never a global
    # sort shuffle; assignment is a pure map over the scan
    df = q("q195_weighted_topk_sample")
    p = plan_string(df)
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert not has_python_eval(df)


def test_q197_ingest_window_partitioned_by_fingerprint(q):
    # incremental ingest: the first-occurrence window must be
    # PARTITIONED by fp (batch-sized per-key work), and nothing may
    # run single-partition at data grain; fingerprinting is JVM-side
    df = q("q197_incremental_ingest")
    p = plan_string(df)
    assert "Window" in p and "SinglePartition" not in p
    assert not has_python_eval(df)


def test_q198_auc_banded_no_data_grain_window(q):
    # rank-sum AUC: unpartitioned windows only over the bin aggregate
    # (q170 banding); the distinct-score agg is the only wide stage
    p = plan_string(q("q198_rank_auc"))
    assert "row_number" not in p
    assert_banded_windows_only(p)


def test_q199_calibration_no_window_broadcast_max(q):
    # reliability bins: binning is scan-time arithmetic against a
    # broadcast scalar max — no window, no join beyond the broadcast
    df = q("q199_calibration_bins")
    p = plan_string(df)
    assert "Window" not in p
    assert broadcast_hash_join_count(df) >= 1 or "BroadcastNestedLoop" in p
    assert not has_python_eval(df)


def test_q201_bm25_term_filter_before_shuffle_broadcast_stats(q):
    # BM25: the term filter must precede the tf shuffle (matched rows
    # only reach the exchange), df/N/avgdl come back as broadcasts,
    # and the final k is a TakeOrdered, never a global sort
    df = q("q201_bm25_topk")
    p = plan_string(df)
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert broadcast_hash_join_count(df) >= 1
    assert not has_python_eval(df)


def test_q202_hard_negatives_windows_per_anchor(q):
    # mining windows are PARTITIONED by anchor (the only
    # SinglePartition exchanges Spark may inject are the constant-size
    # runtime bloom-filter buffer merges, not data-grain work);
    # similarity is the JVM zip_with fold (no Python)
    df = q("q202_hard_negatives")
    p = plan_string(df)
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert win_lines, "expected per-anchor ranking windows"
    for ln in win_lines:
        assert "aid" in ln.split("windowspecdefinition")[1], ln
    assert not has_python_eval(df)


def test_q221_welch_single_agg_broadcast_pairs(q):
    # pairwise Welch: one source-grain aggregate, pairs form via a
    # broadcast theta self-join of the tiny moment frame; no window,
    # all arithmetic JVM-side
    df = q("q221_welch_ttest")
    p = plan_string(df)
    assert "Window" not in p
    assert "BroadcastNestedLoop" in p or broadcast_hash_join_count(df) >= 1
    assert not has_python_eval(df)


def test_q222_lift_windows_bin_or_decile_grain_only(q):
    # decile lift: the banded ntile's unpartitioned window runs over
    # the bin aggregate (__bcnt) and the cumulative-capture window
    # over the 10-row decile aggregate — never over event grain
    df = q("q222_decile_lift")
    p = plan_string(df)
    import re

    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert win_lines, "expected banded + decile windows"
    for ln in win_lines:
        spec_head = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert spec_head, ln
        if " ASC" in spec_head.group(1) or " DESC" in spec_head.group(1):
            # unpartitioned: must be the bin aggregate or the 10-row
            # decile aggregate, never event grain
            assert "bcnt" in ln or "decile" in ln, (
                f"data-grain global window: {ln.strip()}"
            )
    assert not has_python_eval(df)


def test_q223_attribution_window_partitioned_by_user(q):
    # last-touch: the running last_value window must be PARTITIONED
    # by user_id (embarrassingly parallel), never single-partition
    df = q("q223_last_touch_attribution")
    p = plan_string(df)
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert win_lines, "expected the per-user running window"
    for ln in win_lines:
        assert "user_id" in ln.split("windowspecdefinition")[1], ln
    assert "SinglePartition" not in p
    assert not has_python_eval(df)


def test_q224_qq_no_window_no_python(q):
    # Q-Q pairs: two percentile aggregates + a 19-row zip join — no
    # window at all, no range shuffle of the documents scan
    df = q("q224_qq_quantiles")
    p = plan_string(df)
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q225_lww_merge_single_agg_no_window(q):
    # LWW merge: conflict resolution must be ONE per-key hash agg
    # (max of a struct), never a row_number window over the union
    df = q("q225_lww_replica_merge")
    p = plan_string(df)
    assert "Window" not in p
    assert "Union" in p
    assert not has_python_eval(df)


def test_q226_neyman_windows_stratum_grain_only(q):
    # allocation: the corpus sees one scan-agg; every window runs
    # over the source-grain frame (ns/base/rem columns), never docs
    df = q("q226_neyman_allocation")
    p = plan_string(df)
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert win_lines, "expected the largest-remainder windows"
    for ln in win_lines:
        assert "rem" in ln or "base" in ln, ln
    assert not has_python_eval(df)


def test_q227_mi_broadcast_marginals_no_window(q):
    # MI: marginals re-aggregate from the cell frame and come back
    # as broadcasts; no window, no second corpus scan
    df = q("q227_mutual_information")
    p = plan_string(df)
    assert "Window" not in p
    assert broadcast_hash_join_count(df) >= 2
    assert not has_python_eval(df)


def test_q228_null_safe_is_hash_equi_join(q):
    # EqualNullSafe must ride the HASH join (nulls bucket together),
    # never degrade to a nested loop / cartesian pair blow-up
    df = q("q228_null_safe_join")
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or (
        "ShuffledHashJoin" in p
    )
    assert not has_python_eval(df)


def test_q229_array_ops_single_agg_no_join(q):
    # collected-set algebra: one user-grain agg, then map-side array
    # expressions — no join, no window
    df = q("q229_array_set_ops")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q230_streaks_all_windows_user_partitioned(q):
    # gaps-and-islands: every window (day rank, best pick) must be
    # PARTITIONED by user_id — one shuffle key end to end
    df = q("q230_streak_islands")
    p = plan_string(df)
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert win_lines, "expected the per-user rank windows"
    for ln in win_lines:
        assert "user_id" in ln.split("windowspecdefinition")[1], ln
    assert not has_python_eval(df)


def test_q231_mode_two_aggs_no_window(q):
    # deterministic mode: min_by over the pair aggregate — no window
    # (the oracle's ROW_NUMBER is the spec, not the plan)
    df = q("q231_mode_per_group")
    p = plan_string(df)
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q232_drawdown_windows_user_partitioned(q):
    # drawdown: both running windows partitioned by user_id
    df = q("q232_max_drawdown")
    p = plan_string(df)
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert win_lines, "expected the running equity/peak windows"
    for ln in win_lines:
        assert "user_id" in ln.split("windowspecdefinition")[1], ln
    assert not has_python_eval(df)


def test_q233_sample_rank_stratum_partitioned_broadcast_quota(q):
    # executing the Neyman design: the md5 rank window must be
    # PARTITIONED by source and the per-source quota broadcast back
    df = q("q233_stratified_exact_sample")
    p = plan_string(df)
    win_lines = [
        ln for ln in p.splitlines()
        if "Window [" in ln and "row_number" in ln
    ]
    assert win_lines, "expected rank windows in the q233 plan"
    saw_stratum_rank = False
    for ln in win_lines:
        spec = ln.split("windowspecdefinition")[1]
        if "source" in spec:
            saw_stratum_rank = True  # the document-grain md5 rank
        else:
            # only the stratum-count-sized allocation pick (ordered
            # by the largest-remainder column) may be unpartitioned
            assert "rem" in spec, f"data-grain global rank: {ln.strip()}"
    assert saw_stratum_rank, "expected the source-partitioned rank"
    assert broadcast_hash_join_count(df) >= 1
    assert not has_python_eval(df)


def test_q234_holt_one_day_agg_then_fold(q):
    # Holt: the corpus-sized work is ONE day-grain hash agg; the fold
    # runs inside aggregate() over the collected series (no window,
    # no Python)
    df = q("q234_holt_forecast")
    p = plan_string(df)
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q235_xcorr_day_grain_broadcast_lags(q):
    # cross-correlation: day-grain self-join with the 7-row lag frame
    # broadcast; no window, all moments JVM-side
    df = q("q235_lag_cross_correlation")
    p = plan_string(df)
    assert "Window" not in p
    assert broadcast_hash_join_count(df) >= 1 or (
        "BroadcastNestedLoop" in p
    )
    assert not has_python_eval(df)


def test_q208_theil_sen_banded_no_data_grain_window(q):
    # Theil-Sen slope median rides the q194 banded order-statistics
    # path: no row_number, unpartitioned windows only over the
    # millislope-bin aggregate — the pair multiset (quadratic in
    # days) never crosses one task (r6 advice item)
    p = plan_string(q("q208_theil_sen_trend"))
    assert "row_number" not in p
    assert_banded_windows_only(p)


def test_q236_hw_one_day_agg_then_fold(q):
    # seasonal Holt-Winters: like q234, the corpus-sized work is ONE
    # day-grain hash agg; init means + the (l, b, season-ring) fold
    # all run inside aggregate() over the collected day series — no
    # window, no Python
    df = q("q236_holt_winters_seasonal")
    p = plan_string(df)
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q237_scrub_no_join_no_window(q):
    # blocklist scrub: narrow regex map + one source-grain agg;
    # regex runs JVM-side (regexp_extract_all/replace), never Python
    df = q("q237_blocklist_scrub")
    p = plan_string(df)
    assert "Join" not in p and "Window" not in p
    assert not has_python_eval(df)


def test_q238_diff_single_key_shuffle_join(q):
    # snapshot diff: ONE key-partitioned full-outer join (SortMergeJoin
    # on k), digesting is scan-side; no window, no Python
    df = q("q238_snapshot_diff")
    p = plan_string(df)
    assert "SortMergeJoin" in p and "FullOuter" in p
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q239_corrmatrix_day_grain_join(q):
    # correlation matrix: the corpus-sized work is one day agg; the
    # unpivoted self-join and moment aggs run at day x type grain
    df = q("q239_correlation_matrix")
    p = plan_string(df)
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q240_mix_windows_source_grain_only(q):
    # temperature mix: allocation windows run over the source-grain
    # aggregate (tens of rows) — the single-partition window is the
    # CONSTANT-size allocation frame, the q226 contract
    df = q("q240_temperature_mix")
    assert not has_python_eval(df)


def test_q241_prefix_join_windows_doc_grain(q):
    # prefix-filter join: the rarity ranking window is PARTITIONED by
    # doc_id (per-doc work); no data-grain single-partition stage
    df = q("q241_prefix_filter_join")
    p = plan_string(df)
    assert "Window" in p and "SinglePartition" not in p
    assert not has_python_eval(df)


def test_q242_anomaly_windows_stratum_grain(q):
    # seasonal anomaly: moment windows are PARTITIONED by
    # (event_type, dow) strata over the day-grain aggregate
    df = q("q242_seasonal_anomaly")
    p = plan_string(df)
    assert "Window" in p and "SinglePartition" not in p
    assert not has_python_eval(df)


def test_q243_drift_constant_grain_no_window(q):
    # embedding drift: one posexplode agg to (2 x dim) grain, then
    # constant-size joins/aggs; no window, no Python
    df = q("q243_embedding_drift")
    p = plan_string(df)
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q244_sweepline_day_grain_window_only(q):
    # sweep line: the running sum is the DAY-grain sanctioned
    # unpartitioned window (the q234/history.py exception) over the
    # day aggregate — corpus-size-independent; no Python
    df = q("q244_concurrency_sweepline")
    p = plan_string(df)
    assert "Window" in p
    assert not has_python_eval(df)


def test_q245_quantile_bands_source_partitioned(q):
    # per-group exact quantiles: ranking windows PARTITIONED by
    # source; no data-grain single-partition stage, no Python
    df = q("q245_group_quantile_bands")
    p = plan_string(df)
    assert "Window" in p and "SinglePartition" not in p
    assert not has_python_eval(df)


def test_q246_hhi_two_aggs_no_window_no_join(q):
    # HHI: (day,user) agg then day agg — both map-side combinable;
    # no window, no join, no Python
    df = q("q246_hhi_concentration")
    p = plan_string(df)
    assert "Window" not in p and "Join" not in p
    assert not has_python_eval(df)


def test_q247_kfold_source_partitioned_rank(q):
    # k-fold dealing: the md5-rank window is PARTITIONED by source
    df = q("q247_stratified_kfold")
    p = plan_string(df)
    assert "Window" in p and "SinglePartition" not in p
    assert not has_python_eval(df)


def test_q248_confusion_no_window_broadcast_totals(q):
    # langid confusion: narrow classify map + cell-grain agg; the
    # per-label totals join is broadcast
    df = q("q248_langid_confusion")
    p = plan_string(df)
    assert "Window" not in p
    assert broadcast_hash_join_count(df) >= 1
    assert not has_python_eval(df)


def test_q249_reconcile_rowdiff_semi_joined_to_divergent(q):
    # two-tier reconcile: the row-level full-outer join runs AFTER a
    # broadcast semi-join on the divergent band list — confinement is
    # in the plan, not just the doc
    df = q("q249_bucket_reconcile")
    p = plan_string(df)
    assert "LeftSemi" in p
    assert "FullOuter" in p
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q250_minhash_quality_no_python_banded_join(q):
    # md5-MinHash quality audit: signatures + banding + verify are
    # all JVM-side; the candidate join is keyed on (band, key) —
    # bounded by bucket occupancy, never all-pairs
    df = q("q250_minhash_quality")
    p = plan_string(df)
    assert not has_python_eval(df)
    assert "Window" not in p


def test_q251_macro_f1_cell_grain_no_window(q):
    # macro-F1: one classify map + cell agg; class totals derive from
    # broadcast-size cells; no window, no Python
    df = q("q251_macro_f1")
    p = plan_string(df)
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q252_overlap_fp_keyed_join_broadcast_sizes(q):
    # source overlap: fingerprint-keyed equi-join (fan-out bounded by
    # per-fp source multiplicity), size lookups broadcast
    df = q("q252_source_overlap_matrix")
    p = plan_string(df)
    assert "Window" not in p
    assert broadcast_hash_join_count(df) >= 2
    assert not has_python_eval(df)


def test_q253_shuffle_topk_rides_window_group_limit(q):
    # the per-epoch shuffle order emits top-k through WindowGroupLimit
    # (pushed below the exchange too), so no epoch's full permutation
    # is ever sorted on one task; the md5 key is pure codegen
    df = q("q253_seeded_epoch_shuffle")
    p = plan_string(df)
    assert "WindowGroupLimit" in p
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    for ln in win_lines:
        assert "epoch" in ln.split("windowspecdefinition")[1], ln
    assert not has_python_eval(df)


def test_q255_medians_run_at_value_grain(q):
    # both MAD median passes window over the DISTINCT-(type, value)
    # aggregate, partitioned by type — never a data-grain or
    # single-partition window; all arithmetic JVM-side
    df = q("q255_group_mad_outliers")
    p = plan_string(df)
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert win_lines, "expected per-type median windows"
    for ln in win_lines:
        assert "t#" in ln.split("windowspecdefinition")[1], ln
    assert "partial_count" in p or "partial_sum" in p
    assert not has_python_eval(df)


def test_q257_weighted_median_partial_agg_then_grouped_window(q):
    # weight aggregation is map-side combinable BEFORE the cumulative
    # window, and the window partitions by flag (value grain)
    df = q("q257_weighted_median")
    p = plan_string(df)
    assert "partial_sum" in p
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    for ln in win_lines:
        assert "flag" in ln.split("windowspecdefinition")[1], ln
    assert not has_python_eval(df)


def test_q259_card_broadcasts_top_language(q):
    # the 1-row top-language frame reaches the card via broadcast;
    # the scan aggregates are partial (map-side combine)
    df = q("q259_dataset_card")
    assert broadcast_hash_join_count(df) >= 1 or (
        "BroadcastNestedLoopJoin" in plan_string(df)
    )
    assert "partial_count" in plan_string(df)
    assert not has_python_eval(df)


def test_q263_interval_join_is_equi_with_range_residual(q):
    # the stream-stream twin's join has an equi key (user) so the
    # plan must be hash/merge, never a nested-loop over the band
    df = q("q263_stream_stream_join")
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert not has_python_eval(df)


def test_q264_funnel_is_chained_key_joins_no_window(q):
    # each funnel stage is a shrinking aggregate joined on the one
    # user key — no window anywhere, no nested loop
    df = q("q264_funnel_conversion")
    p = plan_string(df)
    assert "Window" not in p
    # (the final 1-row x 1-row stat combines are broadcast crosses —
    # allowed; a data-grain CartesianProduct is not)
    assert "CartesianProduct" not in p
    assert not has_python_eval(df)


def test_q266_sessionization_windows_per_user(q):
    df = q("q266_session_depth")
    p = plan_string(df)
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert win_lines
    for ln in win_lines:
        assert "user_id" in ln.split("windowspecdefinition")[1], ln
    assert not has_python_eval(df)


def test_q267_triangle_joins_are_hash_equi(q):
    # wedge build and closure are equi joins (hash/merge); the only
    # nested-loop joins are the 1-row stat broadcasts at the end —
    # a data-grain CartesianProduct or an OR-condition closure would
    # be the quadratic shape this operator exists to avoid
    df = q("q267_triangle_count")
    p = plan_string(df)
    assert "CartesianProduct" not in p
    # the closure must be a hash/merge LEFT SEMI — an OR-of-directions
    # condition would surface as a BroadcastNestedLoopJoin LeftSemi
    semi_lines = [ln for ln in p.splitlines() if "LeftSemi" in ln]
    assert semi_lines
    for ln in semi_lines:
        assert "NestedLoop" not in ln, ln
    # wedge build is an equi join on the apex (orientation joins sit
    # behind the localCheckpoint and don't render here)
    assert (
        p.count("SortMergeJoin")
        + p.count("BroadcastHashJoin")
        + p.count("ShuffledHashJoin")
        >= 2
    )
    assert not has_python_eval(df)


def _window_partition_cols(line):
    # windowspecdefinition(p1#1L, p2#2L, sort#3 ASC ..., specified...)
    # -> partition column NAMES before the first sort field
    import re

    m = re.search(r"windowspecdefinition\((.*)", line)
    assert m, line
    cols = []
    for tok in m.group(1).split(", "):
        if (
            " ASC" in tok
            or " DESC" in tok
            or tok.startswith("specifiedwindowframe")
        ):
            break
        cols.append(tok.split("#")[0])
    return cols


def test_q267_position_windows_are_banded(q, spark, sf_dir):
    # the day-position computation must never put a whole day's total
    # order on one task: a window partitioned by the date ALONE may
    # only ride the band-grain aggregate (ordered by the band id b,
    # <=1440 rows/day); every row-grain window partitions by (d, b).
    # Same contract family as q80/q194/q262/q270 — data-grain windows
    # over a low-cardinality time key must carry a band.
    from speculare_pgcdc_spark.plans import plan_string
    from speculare_pgcdc_spark.queries.corpus_metrics import (
        _q267_edges,
    )

    df = _q267_edges(spark, sf_dir)
    p = plan_string(df)
    lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert lines  # in-band row_number + band-grain cumsum
    saw_banded = False
    for ln in lines:
        cols = _window_partition_cols(ln)
        if cols == ["d"]:
            # band-grain cumsum: must order by the band id, never the
            # row-grain (ts, event_id) order
            assert "ts#" not in ln and "event_id#" not in ln, ln
        else:
            assert set(cols) >= {"d", "b"}, ln
            saw_banded = True
    assert saw_banded
    # K-successor adjacency is the (d, rn + k) equi-join, not any
    # row-grain lead/lag or theta join
    assert "CartesianProduct" not in p
    assert "NestedLoop" not in p
    assert not has_python_eval(df)


def test_q262_rank_windows_are_banded(q):
    # y (per-user value sum) is ~unique per user: the distinct-value
    # grain is user cardinality, so the cumulative rank windows must
    # be banded — unpartitioned windows only at the band grain
    # (ordered by b), data-sized windows partitioned by b
    df = q("q262_spearman_rank")
    p = plan_string(df)
    lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert lines
    saw_in_band = False
    for ln in lines:
        cols = _window_partition_cols(ln)
        if not cols:  # unpartitioned: band-grain cumsum only
            assert "b#" in ln.split("specifiedwindowframe")[0], ln
        else:
            assert cols == ["b"], ln
            saw_in_band = True
    assert saw_in_band
    assert not has_python_eval(df)


def test_q274_trim_windows_are_banded(q):
    # the price grain per flag is near row-cardinality: the rank
    # windows must carry the band — (flag, b) for the data-sized
    # cumsum, flag-partitioned only at the band grain (ordered by b)
    df = q("q274_trimmed_mean")
    p = plan_string(df)
    lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert lines
    saw_banded = False
    for ln in lines:
        cols = _window_partition_cols(ln)
        if cols == ["flag"]:
            assert "p#" not in ln.split("specifiedwindowframe")[0], ln
        else:
            assert set(cols) == {"flag", "b"}, ln
            saw_banded = True
    assert saw_banded
    assert not has_python_eval(df)


def test_q272_digest_diff_day_grain_join(q):
    # both digests reduce to the day grain BEFORE the full-outer
    # compare: no window at all, and the only joins in the plan run
    # on the tiny day-keyed aggregates (a row-grain full-outer diff
    # here would be the q238 shape this query exists to pre-filter)
    df = q("q272_partition_digest_diff")
    p = plan_string(df)
    assert "Window [" not in p
    assert "CartesianProduct" not in p
    assert not has_python_eval(df)


def test_q275_null_join_isolates_null_keys(q):
    # the join input must be pre-filtered to non-null keys (the NULL
    # population bypasses via union) — a plain left outer join keeps
    # nulls in the exchange, all hashing to one reducer
    df = q("q275_null_skew_join")
    p = plan_string(df)
    assert "Union" in p
    filters = [ln for ln in p.splitlines() if "Filter " in ln]
    # join branch: pre-filtered to non-null keys (Catalyst pushes the
    # predicate through the CASE that derives the key)
    assert any("isnotnull(user_id" in ln for ln in filters), filters
    # bypass branch: the null-key population never reaches the join
    assert any(
        "isnull(user_id" in ln and "isnotnull" not in ln
        for ln in filters
    ), filters
    join_lines = [ln for ln in p.splitlines() if "LeftOuter" in ln]
    assert join_lines  # the real join exists, on the non-null branch
    assert "CartesianProduct" not in p
    assert not has_python_eval(df)


def test_q270_skyline_suffix_max_is_banded(q):
    # the spend grain is customer-cardinality: every data-sized window
    # must partition by the band; the lone unpartitioned window rides
    # the one-row-per-bin aggregate (same contract as q80/q130/q184)
    import re

    df = q("q270_pareto_skyline")
    p = plan_string(df)
    lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert lines
    for ln in lines:
        spec = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert spec, ln
        head = spec.group(1)
        unpartitioned = " ASC" in head or " DESC" in head
        if unpartitioned:
            assert "b#" in head, f"unpartitioned data-grain window: {ln}"
    assert "CartesianProduct" not in p
    assert not has_python_eval(df)


# ---------------------------------------------------------------- round 10


def test_q281_scd2_single_key_exchange(q):
    """SCD2 build: row_number + lead share ONE o_custkey exchange; the
    output sort is rangepartitioning, and nothing crosses to Python."""
    df = q("q281_scd2_intervals")
    assert exchange_count(df, "hashpartitioning") == 1
    assert not has_python_eval(df)
    p = plan_string(df)
    assert "Window" in p and "Join" not in p


def test_q282_attribution_window_and_tiny_agg(q):
    """Last-touch: one user_id exchange feeds the prefix-max window;
    the channel agg is partial (map-side combine) before its tiny
    exchange; no Python, no join."""
    df = q("q282_last_touch_attribution")
    p = plan_string(df)
    assert not has_python_eval(df)
    assert "Join" not in p
    assert "partial_count" in p or "HashAggregate" in p
    # window partitions on the high-cardinality user key, never alone
    # on a constant/low-card key
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all("user_id" in ln for ln in wl)


def test_q285_diversity_no_join_partial_agg(q):
    """N-gram diversity: gram assembly is in-expression (no self-join,
    no nested loop); the gram count combines map-side."""
    df = q("q285_ngram_diversity")
    p = plan_string(df)
    assert "NestedLoop" not in p.replace("BroadcastNestedLoop", "")
    assert "Join" not in p
    assert "partial_count" in p


def test_q288_cms_sketch_is_broadcast_probed(q):
    """CMS audit: the 256-cell sketch reaches the probe side as a
    BROADCAST join (never a shuffled join against 10 probe keys)."""
    df = q("q288_count_min_sketch")
    assert broadcast_hash_join_count(df) >= 1
    assert not has_python_eval(df)


def test_q289_ttc_windows_are_banded(q):
    """Time-to-convert percentiles ride the banded rank: every Window
    line carries the __b band column — no data-grain global window."""
    df = q("q289_time_to_convert")
    p = plan_string(df)
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl
    for ln in wl:
        assert "__b" in ln, f"unbanded window: {ln[:120]}"


def test_q290_markov_single_lag_window(q):
    """Markov transitions: one user-keyed lag window + a tiny
    edge-grain agg; the normalize join broadcasts the constant-sized
    totals frame."""
    df = q("q290_markov_transitions")
    p = plan_string(df)
    assert not has_python_eval(df)
    assert broadcast_hash_join_count(df) == 1
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all("user_id" in ln for ln in wl)


# ---------------------------------------------------------------- round 11


def test_q292_ols_single_agg_pass(q):
    """Group OLS: one scan, one partial+final aggregate — no join, no
    window, nothing in Python (the sufficient-statistics contract)."""
    df = q("q292_group_ols_trend")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q293_balanced_sample_rank_is_banded(q):
    """Balanced subsample: lang is LOW-cardinality, so every rank
    window must carry the md5-prefix band (__b) — a plain per-lang
    window would serialize each language's sort at 100 TB. The
    min-count scalar arrives by broadcast, never a shuffled join."""
    df = q("q293_balanced_lang_subsample")
    p = plan_string(df)
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl
    for ln in wl:
        assert "__b" in ln, f"unbanded window: {ln[:120]}"
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert not has_python_eval(df)


def test_q294_freshness_watermark_broadcasts(q):
    """Freshness audit: the 1-row corpus watermark reaches the scan by
    broadcast (BroadcastNestedLoopJoin for the literal cross join);
    no sort-merge machinery, no window, no Python."""
    df = q("q294_freshness_audit")
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q295_cooccurrence_counts_broadcast(q):
    """Type co-occurrence: the per-type distinct counts join the
    constant-sized pair table as BROADCASTS (two of them); the only
    shuffled join is the user-keyed self-join of the distinct grain."""
    df = q("q295_type_cooccurrence_jaccard")
    p = plan_string(df)
    assert broadcast_hash_join_count(df) >= 2
    assert "CartesianProduct" not in p
    assert not has_python_eval(df)


def test_q296_fano_no_window_no_shuffle_join(q):
    """Fano factor: sparse-count identity — two combinable aggregates
    and a 1-row span broadcast; the dense grid must NOT materialize
    (no window, no explode, no sort-merge join)."""
    df = q("q296_fano_burstiness")
    p = plan_string(df)
    assert "Window" not in p
    assert "Explode" not in p and "Generate" not in p
    assert "SortMergeJoin" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q297_hapax_partial_agg_no_join(q):
    """Hapax audit: explode -> (source, word) partial+final agg ->
    source reduce — the q44 shape; no join anywhere."""
    df = q("q297_hapax_legomena")
    p = plan_string(df)
    assert "Join" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q298_norm_gate_jvm_fold_and_broadcast(q):
    """Norm outlier gate: the fold stays in JVM expressions (no Python
    eval) and the 1-row moment frame broadcasts — no shuffled join,
    no window."""
    df = q("q298_embedding_norm_outliers")
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q299_since_purchase_single_exchange(q):
    """Since-purchase feature: row_number and the running purchase max
    share ONE user_id hash exchange (same partitioning + sort); both
    windows key on the high-cardinality user; no join, no Python."""
    df = q("q299_events_since_purchase")
    p = plan_string(df)
    assert exchange_count(df, "hashpartitioning") == 1
    assert "Join" not in p
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all("user_id" in ln for ln in wl)
    assert not has_python_eval(df)


def test_q300_session_paths_one_user_exchange_takeordered(q):
    """Session paths: sessionize + in-session rank + session id all on
    user-keyed windows (no low-card partitioning); the top-20 is
    TakeOrdered, never a global sort; no join."""
    df = q("q300_session_paths")
    p = plan_string(df)
    assert "Join" not in p
    assert "TakeOrderedAndProject" in p
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all("user_id" in ln for ln in wl)
    assert not has_python_eval(df)


def test_q301_psi_normalizers_broadcast(q):
    """PSI: the time-midpoint (1 row) and per-type totals reach the
    bin table by broadcast; no sort-merge join, no window."""
    df = q("q301_psi_drift")
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p
    assert broadcast_hash_join_count(df) >= 1
    assert "SortMergeJoin" not in p
    assert "Window" not in p
    assert not has_python_eval(df)


def test_q302_inversions_single_exchange(q):
    """Order inversions: one user-keyed lag window + one combinable
    agg — exactly two hash exchanges (the window's user key and the
    5-group type agg), no join."""
    df = q("q302_order_inversions")
    p = plan_string(df)
    assert exchange_count(df, "hashpartitioning") == 2
    assert "partial_" in p  # the type agg combines map-side
    assert "Join" not in p
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all("user_id" in ln for ln in wl)
    assert not has_python_eval(df)


def test_q303_grid_all_broadcast(q):
    """Coverage grid: the lang x source grid and both normalizers are
    broadcast-assembled — no shuffled join anywhere (the grid is
    constant-sized; a SortMergeJoin here would be a plan bug)."""
    df = q("q303_coverage_grid")
    p = plan_string(df)
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert broadcast_hash_join_count(df) >= 1
    assert not has_python_eval(df)


def test_q304_rate_cap_composite_key_window(q):
    """Rate cap: the rank window partitions on the COMPOSITE
    (user, hour) key — strictly finer than user alone — and the agg
    combines map-side; no join."""
    df = q("q304_rate_cap_throttle")
    p = plan_string(df)
    assert "Join" not in p
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all("user_id" in ln for ln in wl)
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q305_interarrival_composite_key_window(q):
    """Inter-arrival: lag partitions on (user, type); one exchange,
    one combinable agg, no join."""
    df = q("q305_interarrival_stats")
    p = plan_string(df)
    assert "Join" not in p
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all(
        "user_id" in ln and "event_type" in ln for ln in wl
    )
    assert not has_python_eval(df)


def test_q306_churn_watermark_broadcast(q):
    """Churn last-action: descending user window (high-card key), the
    corpus watermark and user total arrive by broadcast; no
    sort-merge join."""
    df = q("q306_churn_last_action")
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all("user_id" in ln for ln in wl)
    assert not has_python_eval(df)


def test_round11_column_pruning_reaches_scan(q):
    """Round-11 batches: every parquet scan reads ONLY the columns the
    query touches (a 2-4 column projection that reads the whole
    events/documents schema is wrong at 100 TB)."""
    cases = {
        "q292_group_ols_trend": {"event_type", "value", "ts"},
        "q297_hapax_legomena": {"text", "source"},
        "q298_embedding_norm_outliers": {"vec_id", "embedding"},
        "q300_session_paths": {
            "event_type", "event_id", "user_id", "ts"
        },
        "q301_psi_drift": {"event_type", "value", "ts"},
        "q304_rate_cap_throttle": {"event_type", "event_id",
                                   "user_id", "ts"},
    }
    for name, allowed in cases.items():
        for scan_cols in read_schemas(q(name)):
            assert scan_cols <= allowed, (
                f"{name}: scan reads {scan_cols - allowed} beyond "
                f"the projection"
            )


def test_q307_vocab_growth_banded_prefix(q):
    """Heaps curve: the cumulative sums ride the banded prefix —
    the ONLY unpartitioned window is band grain (carries __band in
    its frame ordering, or partitions by it); no data-grain global
    window; the band-prefix frame joins back by broadcast."""
    df = q("q307_vocab_growth")
    p = plan_string(df)
    import re
    for ln in p.splitlines():
        if "Window [" not in ln:
            continue
        spec = re.search(r"windowspecdefinition\(([^)]*)\)", ln)
        assert spec, ln
        head = spec.group(1)
        assert "__band" in head, f"unbanded window: {ln[:140]}"
    assert "SortMergeJoin" not in p
    assert not has_python_eval(df)


def test_round12_column_pruning_reaches_scan(q):
    """Round-12 batch: every parquet scan reads ONLY the columns the
    query touches."""
    cases = {
        "q308_boilerplate_trailers": {"doc_id", "source", "text"},
        "q309_order_total_audit": {
            "l_orderkey", "l_extendedprice", "l_discount", "l_tax",
            "o_orderkey", "o_totalprice",
        },
        "q311_dormancy_reactivation": {
            "event_type", "user_id", "ts", "event_id",
        },
        "q312_zonemap_skipping": {"ts", "value"},
        "q313_t_closeness": {"lang", "source", "n_chars"},
        "q314_brier_decomposition": {"lang", "n_chars"},
    }
    for name, allowed in cases.items():
        for scan_cols in read_schemas(q(name)):
            assert scan_cols <= allowed, (
                f"{name}: scan reads {scan_cols - allowed} beyond "
                f"the projection"
            )


def test_q308_trailers_single_shuffle_no_join(q):
    """Trailer clusters: pure scan-time string exprs into ONE hash agg
    on the md5 key + TakeOrdered; no join, no window, JVM-only."""
    df = q("q308_boilerplate_trailers")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q309_audit_key_joins_only(q):
    """Order-total audit: the lineitem rollup is partial+final on
    l_orderkey and the orders join rides the same key; no window,
    no python."""
    df = q("q309_order_total_audit")
    p = plan_string(df)
    assert "Window [" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q310_entry_exit_one_user_exchange(q):
    """Entry/exit matrix: sessionize + min_by/max_by ride the user
    exchange; the 1-row total arrives by broadcast, not a sort-merge
    join."""
    df = q("q310_entry_exit_matrix")
    p = plan_string(df)
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all("user_id" in ln for ln in wl)
    assert not has_python_eval(df)


def test_q311_dormancy_single_window_no_join(q):
    """Dormancy: one lag window on the user key, one small agg; no
    join anywhere."""
    df = q("q311_dormancy_reactivation")
    p = plan_string(df)
    assert "Join" not in p
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all("user_id" in ln for ln in wl)
    assert not has_python_eval(df)


def test_q312_zonemap_two_level_agg(q):
    """Zone-map audit: bucket-grain partial agg then a 1-row fold —
    no join, no window, map-side combine present."""
    df = q("q312_zonemap_skipping")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q313_tcloseness_group_grain_windows(q):
    """t-closeness: every cumsum window partitions on the
    (lang, source) group key; band dim and global-band counts arrive
    by broadcast."""
    df = q("q313_t_closeness")
    p = plan_string(df)
    wl = [ln for ln in p.splitlines() if "Window [" in ln]
    assert wl and all(
        "lang" in ln and "source" in ln for ln in wl
    )
    assert not has_python_eval(df)


def test_q314_brier_no_window_no_python(q):
    """Brier decomposition: two scan passes + broadcast 1-row folds;
    no window, no sort-merge join, JVM-only integer arithmetic."""
    df = q("q314_brier_decomposition")
    p = plan_string(df)
    assert "Window [" not in p
    assert "SortMergeJoin" not in p
    assert not has_python_eval(df)


def test_q315_pattern_join_session_grain(q):
    """Sequential patterns (r14 optimized shape): the sessionize
    window runs ONCE inside the eager checkpoint of the
    first-occurrence frame; both self-join sides, the session total
    and the pair join all read the checkpointed (user, sess, type)
    grain — the final plan scans ExistingRDD, never re-runs the
    events scan or the sessionize window; the total attaches as a
    broadcast; no python."""
    df = q("q315_sequential_pattern_support")
    p = plan_string(df)
    assert "ExistingRDD" in p
    assert "Scan parquet" not in p  # no consumer re-runs sessionize
    assert "Window [" not in p  # the window ran inside the checkpoint
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert not has_python_eval(df)


# ---------------------------------------------------------------------------
# Round-13 batch (q316-q323)
# ---------------------------------------------------------------------------


def test_round13_column_pruning_reaches_scan(q):
    """Round-13 batch: every parquet scan reads ONLY the columns the
    query touches (q320's scans sit behind its localCheckpoint, so it
    is asserted only if a parquet scan is visible)."""
    cases = {
        "q316_band_layout_audit": {
            "o_orderkey", "o_custkey", "o_totalprice",
        },
        "q317_reciprocal_rank_fusion": {
            "source", "doc_id", "n_chars", "text",
        },
        "q318_decayed_value": {"user_id", "value", "ts"},
        "q319_bytes_per_token_by_lang": {"text"},
        "q320_oov_rate": {"source", "text"},
        "q321_srm_check": {"event_type", "user_id"},
        "q322_dedup_waterfall": {"doc_id", "n_chars", "text"},
        "q323_generalization_ladder": {
            "o_orderdate", "o_orderpriority",
        },
    }
    for name, allowed in cases.items():
        for scan_cols in read_schemas(q(name)):
            assert scan_cols <= allowed, (
                f"{name}: scan reads {scan_cols - allowed} beyond "
                f"the projection"
            )


def test_q316_band_audit_single_agg_broadcast_totals(q):
    """Band-layout audit: one hash agg on the computed band key, the
    totals join is a broadcast of ONE row, top-20 via TakeOrdered; no
    window, JVM-only."""
    df = q("q316_band_layout_audit")
    p = plan_string(df)
    assert "Window [" not in p
    assert "partial_" in p
    assert "Broadcast" in p
    assert not has_python_eval(df)


def test_q317_rrf_windows_share_one_source_exchange(q):
    """RRF: all three row_number windows are partitioned by source, so
    they ride ONE hashpartitioning exchange (re-sorts, no re-shuffle);
    no join, no Python."""
    df = q("q317_reciprocal_rank_fusion")
    p = plan_string(df)
    assert exchange_count(df, "hashpartitioning") == 1
    assert "Join" not in p
    assert not has_python_eval(df)


def test_q318_decay_broadcast_anchor_one_agg(q):
    """Decayed value: the corpus-max anchor joins as a broadcast single
    row (nested-loop, keyless), then ONE user-keyed hash agg; decay is
    scan-time integer shifts — no window, no Python."""
    df = q("q318_decayed_value")
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p
    assert "Window [" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q319_bytes_per_token_single_shuffle_no_join(q):
    """Tokenizer compression audit: scan-time classify + length exprs
    into one small-key agg; no join, no window, no explode."""
    df = q("q319_bytes_per_token_by_lang")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert "Generate" not in p  # counts via size(), never explode
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q320_oov_vocab_join_is_broadcast(q):
    """OOV audit: the (source, tok) grain is checkpointed once; the
    vocab membership join is a broadcast of VOCAB_K rows; no window,
    no Python."""
    df = q("q320_oov_rate")
    p = plan_string(df)
    assert broadcast_hash_join_count(df) == 1
    assert "Window [" not in p
    assert not has_python_eval(df)


def test_q321_srm_two_exchanges_no_join(q):
    """SRM: distinct on (type, user) then the per-type rollup — two
    hash exchanges, assignment is scan-time md5; no join, no window."""
    df = q("q321_srm_check")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert exchange_count(df, "hashpartitioning") == 2
    assert not has_python_eval(df)


def test_q322_waterfall_md5_windows_no_explode(q):
    """Dedup waterfall (r14 optimized shape): three min-windows on md5
    fingerprint keys + a 4-key rollup; the doc total derives from the
    <=4-row tier aggregate via an unpartitioned window over THAT tiny
    frame, so the whole query reads documents exactly ONCE (the old
    broadcast-count branch was a second full normalize+window pass).
    No explode (fingerprints are whole-string), no Python."""
    df = q("q322_dedup_waterfall")
    p = plan_string(df)
    assert "Window [" in p
    assert "Generate" not in p
    assert p.count("Scan parquet") == 1  # one documents pass total
    assert not has_python_eval(df)


def test_q323_ladder_union_of_aggs_no_window(q):
    """Generalization ladder: four class-grain aggs reduced to single
    rows and unioned — no window, no join, no Python."""
    df = q("q323_generalization_ladder")
    p = plan_string(df)
    assert "Union" in p
    assert "Window [" not in p
    assert "Join" not in p
    assert not has_python_eval(df)


# ---------------------------------------------------------------------------
# Round-14 batch (q324-q331)
# ---------------------------------------------------------------------------


def test_round14_column_pruning_reaches_scan(q):
    """Round-14 batch: every parquet scan reads ONLY the columns the
    query touches."""
    cases = {
        "q324_duplicate_span_mask": {"doc_id", "text"},
        "q325_template_ngrams": {"doc_id", "text"},
        "q326_dedup_mixture_shift": {"doc_id", "lang", "text"},
        "q327_bpe_pair_stats": {"text"},
        "q328_vocab_coverage_curve": {"text"},
        "q329_padding_waste": {"text"},
        "q330_quantized_recall": {"vec_id", "embedding"},
        "q331_curation_funnel": {"doc_id", "n_chars", "text"},
    }
    for name, allowed in cases.items():
        for scan_cols in read_schemas(q(name)):
            assert scan_cols <= allowed, (
                f"{name}: scan reads {scan_cols - allowed} beyond "
                f"the projection"
            )


def test_q324_span_mask_gram_join_is_equi_no_allpairs(q):
    """Duplicate-span mask: the dup-gram filter joins the gram frame
    on the gram KEY (equi hash/broadcast, never a nested loop), the
    coverage count rides hash aggs with map-side partials, and the
    final ranking is TakeOrdered — no global sort, no Python."""
    df = q("q324_duplicate_span_mask")
    p = plan_string(df)
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert "TakeOrderedAndProject" in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q325_template_grams_one_gram_agg_takeordered(q):
    """Template n-grams: one gram-keyed hash agg (map-side partials),
    a 1-row broadcast total, TakeOrdered top-20 — no window, no
    data-grain sort."""
    df = q("q325_template_ngrams")
    p = plan_string(df)
    assert "Window [" not in p
    assert "partial_" in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row totals join
    assert "TakeOrderedAndProject" in p
    assert not has_python_eval(df)


def test_q326_mixture_shift_no_window_minby_survivor(q):
    """Dedup mixture shift: the text column is read ONCE into the
    checkpointed key frame; the survivor is a min_by hash agg (no
    window at all), the lang join happens at |langs| grain, totals
    join as a broadcast."""
    df = q("q326_dedup_mixture_shift")
    p = plan_string(df)
    assert "Window [" not in p
    assert "partial_" in p
    assert "Broadcast" in p
    assert not has_python_eval(df)


def test_q327_bpe_pairs_small_key_agg_no_join(q):
    """BPE pair stats: token explode -> in-row pair explode -> one
    tiny-key hash agg; no join, no window, TakeOrdered."""
    df = q("q327_bpe_pair_stats")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert "partial_" in p
    assert "TakeOrderedAndProject" in p
    assert not has_python_eval(df)


def test_q328_coverage_vocab_grain_windows_only(q):
    """Vocab coverage: the rank/cumsum windows run AFTER the token
    agg, i.e. over vocabulary-grain rows (the q187 exception to the
    no-global-window rule) — the corpus-grain side contributes only
    the one token-keyed agg; thresholds and total join as
    broadcasts."""
    df = q("q328_vocab_coverage_curve")
    p = plan_string(df)
    assert "partial_" in p
    assert "Window [" in p
    assert "BroadcastNestedLoopJoin" in p
    assert not has_python_eval(df)


def test_q329_padding_waste_single_agg_scan_shape(q):
    """Padding waste: scan-grain bucket CASE into ONE 9-key hash agg;
    no join, no window, no explode (token counts via size())."""
    df = q("q329_padding_waste")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert "Generate" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q330_quantized_recall_broadcast_queries_one_pair_exchange(q):
    """Quantized recall (r14 optimized shape): the pair frame + twin
    rank windows run ONCE inside the eager checkpoint of the
    <=2*Q*K-row candidate frame (the query side is itself pinned
    before its broadcast, so the broadcast build does not re-run the
    global-scale agg); the final plan reads the checkpointed frame
    for BOTH rank filters and joins at (Q x K) grain — ExistingRDD,
    no embeddings re-scan, windows already evaluated. JVM-only
    throughout."""
    df = q("q330_quantized_recall")
    p = plan_string(df)
    assert "ExistingRDD" in p
    assert "Scan parquet" not in p  # no consumer re-reads embeddings
    assert "Window [" not in p  # ranks were evaluated in the checkpoint
    assert not has_python_eval(df)


def test_q331_funnel_one_scan_agg_one_dedup_window(q):
    """Curation funnel: per-doc gate flags at scan grain feed one
    global count agg; the dedup gate is one window over the
    triple-gated subset; the 5-row stack joins as a broadcast — no
    corpus-scale join, no Python."""
    df = q("q331_curation_funnel")
    p = plan_string(df)
    assert p.count("Window [") == 1
    assert "Broadcast" in p
    assert not has_python_eval(df)


# ---------------------------------------------------------------------------
# Round-14 extension batch (q332-q339)
# ---------------------------------------------------------------------------


def test_round14b_column_pruning_reaches_scan(q):
    """Round-14 extension batch: every parquet scan reads ONLY the
    columns the query touches."""
    cases = {
        "q332_psi_length_drift": {"doc_id", "n_chars"},
        "q333_readability_buckets": {"text"},
        "q334_embedding_anisotropy": {"label", "embedding"},
        "q335_importance_ess": {"source", "n_chars"},
        "q336_copy_direction": {"doc_id", "source", "text"},
        "q337_bitext_candidates": {"lang", "text"},
        "q338_mixture_rebalance": {"source", "text"},
        "q339_ngram_novelty": {"doc_id", "text"},
    }
    for name, allowed in cases.items():
        for scan_cols in read_schemas(q(name)):
            assert scan_cols <= allowed, (
                f"{name}: scan reads {scan_cols - allowed} beyond "
                f"the projection"
            )


def test_q332_psi_small_agg_no_window_no_explode(q):
    """PSI drift: scan-grain bucket CASE into a tiny bucket agg with
    map-side partials; the totals row joins back as a 1-row
    broadcast; no window, no explode, no Python."""
    df = q("q332_psi_length_drift")
    p = plan_string(df)
    assert "Window [" not in p
    assert "Generate" not in p
    assert "partial_" in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row totals join
    assert not has_python_eval(df)


def test_q333_readability_pure_scan_agg(q):
    """Readability tiers: all three linguistic counters are scan-grain
    expressions (no explode — vowel groups via split+size), one 5-key
    hash agg, 1-row broadcast total; no window, JVM-only."""
    df = q("q333_readability_buckets")
    p = plan_string(df)
    assert "Window [" not in p
    assert "Generate" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q334_anisotropy_centroid_broadcast_no_pair_work(q):
    """Embedding anisotropy: ONE posexplode feeds the dim-grain
    centroid agg, the centroid returns as a 1-row broadcast, cosine
    is scan-local, label agg on top — no vector-pair join anywhere,
    no window, no Python."""
    df = q("q334_embedding_anisotropy")
    p = plan_string(df)
    assert "Window [" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row centroid
    assert "SortMergeJoin" not in p and "Cartesian" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q335_ess_single_source_agg(q):
    """Importance ESS: pure scan -> source-grain agg with map-side
    partials; no join, no window, no explode."""
    df = q("q335_importance_ess")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert "Generate" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q336_copy_direction_all_joins_broadcast(q):
    """Directional copy attribution: the multi-source key filter, the
    origin-doc attribution, and the origin tag all join the key frame
    as BROADCASTS (the duplicated mass is small by construction);
    ranking is TakeOrdered top-20 — no sort-merge join, no window,
    no corpus-scale sort."""
    df = q("q336_copy_direction")
    p = plan_string(df)
    assert "SortMergeJoin" not in p and "Cartesian" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "Window [" not in p
    assert not has_python_eval(df)


def test_q337_bitext_counts_only_no_pair_materialization(q):
    """Bitext candidates: the cross-language pairing happens at
    (lang, band)-COUNT grain (a broadcast equi-join over dozens of
    rows), never at doc-pair grain — no Cartesian, no sort-merge,
    no window; candidate counts are products of counts."""
    df = q("q337_bitext_candidates")
    p = plan_string(df)
    assert "Cartesian" not in p and "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "Window [" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q338_rebalance_scalar_broadcasts_only(q):
    """Mixture rebalance: source-grain agg, then the total and the
    rate-normalization max each join back as 1-row broadcasts; no
    window, no explode beyond none, JVM-only."""
    df = q("q338_mixture_rebalance")
    p = plan_string(df)
    assert "Window [" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q339_novelty_one_gram_window_takeordered(q):
    """N-gram novelty (r14 optimized shape): NO window — first-batch
    attribution is a partial-aggregating per-gram MIN (maps collapse
    duplicate grams before the exchange; nothing sorts the
    (gram, batch) frame), its first-batch histogram joins the
    per-batch gram counts as a BROADCAST at batch grain; TakeOrdered
    over the batch axis; the gram explode feeds a distinct."""
    df = q("q339_ngram_novelty")
    p = plan_string(df)
    assert "Window [" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p
    assert "partial_" in p
    assert not has_python_eval(df)


# ---------------------------------------------------------------------------
# Round-14 extension batch 2 (q340-q347)
# ---------------------------------------------------------------------------


def test_round14c_column_pruning_reaches_scan(q):
    """Round-14 extension batch 2: every parquet scan reads ONLY the
    columns the query touches."""
    cases = {
        "q340_fold_balance": {"doc_id", "source"},
        "q341_window_chunking": {"source", "text"},
        "q342_code_switch": {"lang", "text"},
        "q343_template_provenance": {"doc_id", "source", "text"},
        "q344_rapid_repeat_audit": {"event_id", "ts", "user_id",
                                    "event_type"},
        "q345_user_concentration": {"user_id", "event_type"},
        "q346_centroid_separation": {"label", "embedding"},
        "q347_gate_redundancy": {"n_chars", "text"},
    }
    for name, allowed in cases.items():
        for scan_cols in read_schemas(q(name)):
            assert scan_cols <= allowed, (
                f"{name}: scan reads {scan_cols - allowed} beyond "
                f"the projection"
            )


def test_q340_fold_balance_single_agg_no_join(q):
    """Fold balance: scan-time md5 fold into one source-grain agg
    (map-side partials); no join, no window, no explode."""
    df = q("q340_fold_balance")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert "Generate" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q341_chunking_pure_scan_agg(q):
    """Window chunking: chunk counts are scan-grain CASE arithmetic
    (the chunks are priced, never materialized — no explode), one
    source agg."""
    df = q("q341_window_chunking")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert "Generate" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q342_code_switch_one_scan_unpivot(q):
    """Code switch: four contains() flags -> ONE lang agg -> explode
    unpivot (a union form would re-scan the corpus per marker);
    exactly one corpus exchange, no join."""
    df = q("q342_code_switch")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q343_provenance_checkpoint_broadcast_takeordered(q):
    """Template provenance (r14 optimized shape): the corpus collapses
    straight to (gram, source) grain through ONE distinct agg
    (map-side partials), each gram's df is a window SUM over that
    already-aggregated checkpointed frame (never over gram
    occurrences), the top-gram list is TakeOrdered and joins back as
    a BROADCAST; no sort-merge."""
    df = q("q343_template_provenance")
    p = plan_string(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p
    # both consumers read the checkpointed (gram, source) aggregate
    # (the window SUM ran inside the eager checkpoint): the final plan
    # scans ExistingRDD and NEVER re-runs the gram explode (no
    # Generate) or the corpus-scale agg downstream of the checkpoint
    assert "ExistingRDD" in p
    assert "Generate" not in p
    assert not has_python_eval(df)


def test_q344_rapid_repeat_one_keyed_window(q):
    """Rapid repeat: exactly ONE (user, type)-partitioned lag window
    (hash-partitioned by entity — never a global sort), then a tiny
    type agg."""
    df = q("q344_rapid_repeat_audit")
    p = plan_string(df)
    assert p.count("Window [") == 1
    assert "Join" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q345_concentration_rank_at_user_grain(q):
    """User concentration: the rank window runs AFTER the (type,
    user) count agg — aggregated grain, not event grain; one window,
    no join."""
    df = q("q345_user_concentration")
    p = plan_string(df)
    assert p.count("Window [") == 1
    assert "Join" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q346_separation_model_grain_pairing(q):
    """Centroid separation: posexplode -> (label, dim) agg, then the
    pairing is a |labels|-row broadcast nested-loop at MODEL grain —
    no data-grain pair work, no window."""
    df = q("q346_centroid_separation")
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "Window [" not in p
    assert "partial_" in p
    assert not has_python_eval(df)


def test_q347_redundancy_one_scan_no_exchange_fanout(q):
    """Gate redundancy: three fail flags -> ONE global agg -> explode
    unpivot; a single corpus scan, zero hash exchanges, no join."""
    df = q("q347_gate_redundancy")
    p = plan_string(df)
    assert "Join" not in p
    assert "Window [" not in p
    assert p.count("Exchange hashpartitioning") == 0
    assert not has_python_eval(df)

"""Plan-shape regression budgets for the headline queries.

The reference's perf work is about keeping operators' data units full;
the Spark equivalent at plan level is: minimal exchanges and broadcast
dimension joins.  These budgets pin today's good plans so a future change
that silently adds a shuffle fails loudly.  (Codegen coverage is not
asserted: AQE hides WholeStageCodegen annotation on unexecuted plans.)
"""

from __future__ import annotations

import pytest

# name -> max exchanges
BUDGETS = {
    "tpch_q1_pricing_summary": 1,
    "tpch_q3_shipping_priority": 1,
    "tpch_q5_local_supplier_volume": 1,
    "tpch_q6_forecast_revenue": 1,
    # 1 fact pipeline + 1 single-row exchange for the lazy MAX(l_partkey)
    # scalar (was a driver-side collect; the broadcast-join form keeps one
    # DAG and the extra exchange moves one row)
    "microbench_chained_joins": 2,
    "agg_distinct_multi": 2,  # Expand + distinct re-agg is inherent
    "win_running_totals": 1,
    "topk_per_group": 1,
    "join_asof_backward": 1,
    "events_sessionization": 1,
    "compaction_filter_join_agg": 1,  # compact() may repartition post-filter
    "sim_topk_bruteforce": 2,  # +1: fan_out widens the 1-task local scan
    # (no-op exchange on a many-partition cluster scan)
    # +1 (round 6): fan_out widens the 1-task single-file scan before
    # the regex-heavy projection (6.0x sf1 scaler fixed; no-op exchange
    # on a many-partition cluster scan — same note as sim_topk)
    "text_tokens_quality_fingerprint": 1,
    "job_like_min_agg_star": 1,
    "tpcds_q1_returns_above_avg": 2,  # agg shuffle + window on nation
    "tpcds_q11_yoy_growth": 1,  # the 4-self-join rewrite's whole point
    "tpcds_q38_intersect_channels": 2,  # INTERSECT chain reuses partitioning
    "tpcds_q97_channel_overlap": 3,  # 2 distinct sides + final gather
    # round-2 headline additions
    "job_like_9way_snowflake": 1,  # all six dims broadcast; one agg shuffle
    "tpcds_q36_margin_rollup_rank": 2,  # rollup shuffle + window over groups
    "tpcds_q23_frequent_items": 2,  # frequent-set agg + final single-row agg
    "tpcds_q78_channel_ratio": 2,  # two pre-agg sides; AQE broadcasts the join
    # distributed prefix-sum shapes: several exchanges, but each moves
    # either the linear data once (repartitionByRange / pid hash) or a
    # bounded per-partition table (offsets); nothing single-tasks the data
    # Both prefix-sum shapes persist their range-partitioned stream (a
    # correctness requirement: spark_partition_id must be pinned to ONE
    # materialized partitioning).  When the cache is already populated
    # (earlier test touched the same subtree) the static plan counts the
    # cached child's exchanges once per consumer instead of deduping via
    # ReuseExchange, so budgets cover the cached-plan count.
    "win_frame_range_value": 8,
    "join_positional": 16,
    # round-2 additions
    "tpcds_q70_rank_pruned_rollup": 6,  # natrev subtree appears twice in
    # the static plan (3 exchanges each); runtime dedupes via
    # ReusedExchange (pinned in test_tpcds_like2)
    "tpcds_q72_late_fulfillment": 1,  # one fact-fact shuffle; dims broadcast
    "job_like_four_dim_roles": 1,  # four dim-role joins all broadcast
    # late round-2 additions (tpcds_like3 + variant tranches); measured
    # identical at sf0.001 and sf0.1
    "tpcds_q20_class_share_window": 2,  # agg shuffle + window over tiny agg
    "tpcds_q30_returns_above_nation_avg": 2,  # cust-grain agg + nation window
    "tpcds_q42_year_category_report": 1,  # broadcast dim + one agg shuffle
    "tpcds_q53_quarterly_brand_deviation": 2,  # agg + brand-partition window
    "tpcds_q56_channel_union_by_name_prefix": 3,  # 3 legs pre-agg; union re-agg
    "tpcds_q79_best_month_per_customer": 2,  # two groupBys share custkey keying
    "tpcds_q80_channel_netted_rollup": 1,  # one scan, one rollup shuffle
    "tpcds_q86_geo_rollup_rank": 2,  # rollup + hierarchy-level window
    "tpcds_q92_excess_discount_total": 2,  # partkey window + single-row agg
    "tpcds_q95_multi_supplier_clean_orders": 3,  # join/agg on orderkey + gather
    "tpcds_q99_latency_month_matrix": 1,  # orderkey join feeds month agg
    "job_like_deep_join_d": 2,  # dims broadcast; AQE owns orders/customer
    "job_like_linked_pair_subtrees_b": 1,  # custkey co-partitioned roles
    # fourth JOB tranche (new topologies) + exact-substring dedup;
    # measured identical at sf0.001 and sf0.1
    "job_like_two_point_nation_codes": 1,  # point-coded roles broadcast
    "job_like_co_supplied_parts": 1,  # both part roles broadcast; one
    # suppkey link join feeds the agg
    "job_like_person_double_bridge": 1,  # both bridges share the entity key
    "job_like_diamond_clique": 1,  # cycle closes on the broadcast side
    "job_like_dense_transitive_star_b": 1,  # 10-relation star: one shuffle
    "dedup_repeated_ngram_spans": 3,  # fan_out widen + gram groupBy +
    # countDistinct expand (the widen exchange is a no-op on cluster
    # scans; it bought 4x on the 1-task local scan)
    "text_duplicate_gram_fraction": 5,  # both gram subtrees widened +
    # dictionary probe join
    # batch pipeline jobs; measured identical at sf0.001 and sf0.1
    "dedup_semantic_ivf_pairs": 2,  # per-cell groupBy + dropDuplicates
    # on the id pair
    "contamination_ngram_overlap": 3,  # fan_out widen + bench-gram
    # distinct + per-doc agg; the bench grams broadcast into the probe
    # third-party suite representatives (identical SQL both engines;
    # Catalyst owns the plan — budgets pin against silent regressions)
    "clickbench_q10": 2,  # region agg + count-distinct expand
    "clickbench_q30": 1,  # 90-wide ungrouped sum: one gather
    "h2o_group_q01": 1,   # low-card groupBy: one shuffle
    "h2o_join_q05": 1,    # fact-fact join: broadcast at fixture scale,
    # at most one key shuffle beyond it
    "tb_routesensor": 4,  # 4-join chain + anti; dims broadcast
    "ldbc_ic09": 3,       # friends UNION + person/message joins
    "ldbc_bi11": 10,      # triangle triple self-join over the derived
    # per-country edge list (3 legs x distinct + closure)
    "pipeline_split_assign": 0,  # hash-band projection: narrow, no shuffle
    # round-3: official partsupp queries — the BNLJ in each plan is the
    # derivation's crossJoin with the ONE-ROW supplier-count aggregate
    # (bounded build side); per-part/per-nation joins are AQE's choice
    "tpch_q2_official": 5,   # derive + EUROPE slice + per-part MIN + top-n
    "tpch_q11_official": 6,  # derive + slice + per-part sum + grand total
    "tpch_q16_official": 4,  # derive + anti + dim join + distinct agg
    "tpch_q20_official": 4,  # derive + date-sliced fact agg + two semis
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_headline_plan_exchange_budget(spark, sf_dir, name):
    from data_chunk_compaction_in_duckdb_spark.plans import count_exchanges
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    df = REGISTRY[name].builder(spark, sf_dir)
    ex = count_exchanges(df)
    assert ex <= BUDGETS[name], f"{name}: {ex} exchanges (budget {BUDGETS[name]})"


def test_q5_dimensions_all_broadcast(spark, sf_dir):
    from data_chunk_compaction_in_duckdb_spark.plans import join_strategies
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    df = REGISTRY["tpch_q5_local_supplier_volume"].builder(spark, sf_dir)
    strats = join_strategies(df)
    assert len(strats) == 5 and set(strats) == {"BroadcastHashJoin"}, strats


def test_ldbc_bi10_bnlj_build_side_is_bounded(spark, sf_dir):
    """bi10 may plan BroadcastNestedLoopJoin for scalar/frontier checks —
    but ONLY while the build (broadcast) side is the bounded
    frontier/scalar relation.  A silent flip onto a fact scan becomes
    O(data^2) at scale; pin that no fixture parquet file feeds any build
    side.  The round-9 unrolled-BFS builder (ldbc_like._bi10_builder)
    trades the recursive UnionLoop's ~55 per-iteration driver jobs for
    one lazy plan whose exchanges all move frontier-sized (person-id)
    relations — hence the larger but bounded exchange budget."""
    from data_chunk_compaction_in_duckdb_spark.plans.inspect import (
        bnlj_build_scans,
        count_exchanges,
    )
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    df = REGISTRY["ldbc_bi10"].builder(spark, sf_dir)
    builds = bnlj_build_scans(df)
    assert len(builds) <= 2, f"BNLJ count grew: {len(builds)}"
    facts = ("orders", "lineitem", "events", "customer", "documents",
             "embeddings")
    for leaves in builds:
        for leaf in leaves:
            assert not any(t in leaf for t in facts), leaf
    assert count_exchanges(df) <= 22


def test_components_transitive_final_plan_is_bounded(spark, sf_dir):
    """Min-label propagation runs its O(diameter) rounds through
    localCheckpoint, so the RESULT plan must be flat — a regression that
    chains the per-round lineage into one giant plan would blow up both
    planning time and executor memory at scale."""
    from data_chunk_compaction_in_duckdb_spark.plans import count_exchanges
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    df = REGISTRY["dedup_components_transitive"].builder(spark, sf_dir)
    assert count_exchanges(df) <= 3


def test_no_forced_broadcast_of_unfiltered_growing_table():
    """Zero-findings budget over the whole package: a forced
    ``F.broadcast()`` hint is only allowed on relations bounded
    independent of scale factor (region/nation, filtered/aggregated
    slices, literal frames, model artifacts).  part/supplier/customer/
    orders/... grow linearly with SF — a forced broadcast of the whole
    table overrides AQE's size check and becomes an executor OOM at the
    100 TB design point.  (Reference analog: the size-aware build-side
    choice, plan_comparison_join.cpp:309-314.)"""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
    )
    from broadcast_audit import audit_tree

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data_chunk_compaction_in_duckdb_spark",
    )
    findings = audit_tree(pkg)
    assert not findings, "\n".join(
        f"{p}:{ln}: {fn}: forced broadcast of unfiltered '{t}'"
        for p, ln, fn, t in findings
    )


def test_unhinted_supplier_join_still_broadcasts_at_fixture_scale(spark, sf_dir):
    """After dropping the forced hints, AQE/static size estimation must
    still choose BroadcastHashJoin for the supplier dim at fixture scale
    — i.e. removing the hint changed the scale story, not the plan."""
    from data_chunk_compaction_in_duckdb_spark.plans import join_strategies
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    df = REGISTRY["tpch_q9_product_type_profit"].builder(spark, sf_dir)
    strats = join_strategies(df)
    assert "BroadcastHashJoin" in strats, strats
    assert "SortMergeJoin" not in strats, strats


@pytest.mark.parametrize(
    "name",
    ["sim_ann_lsh_topk", "sim_ann_ivf_topk", "sim_ann_pq_adc_topk",
     "sim_topk_bruteforce"],
)
def test_ann_topk_has_partial_before_merge_window(spark, sf_dir, name):
    """The per-query top-k must be two-phase: the merge window's
    exchange consumes the MapInArrow partial's bounded output, never the
    raw scored pair stream (which would funnel a corpus-sized stream
    into one task per query at scale)."""
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    df = REGISTRY[name].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win = plan.find("Window")
    arrow = plan.find("MapInArrow")
    assert arrow >= 0, f"{name}: no MapInArrow partial in plan"
    assert 0 <= win < arrow, (
        f"{name}: merge Window must sit above the Arrow partial "
        f"(win={win}, arrow={arrow})"
    )

"""JOB-like deep join parity + closed-loop tuner integration."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.oracle_compare import assert_query_matches_oracle


def test_job_like_deep_join_matches_oracle(spark, duck, sf_dir):
    assert_query_matches_oracle(spark, duck, sf_dir, "job_like_deep_join")


def test_job_like_all_broadcast_single_exchange(spark, sf_dir):
    from data_chunk_compaction_in_duckdb_spark.plans import (
        count_exchanges,
        join_strategies,
    )
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    df = REGISTRY["job_like_deep_join"].builder(spark, sf_dir)
    strats = join_strategies(df)
    assert set(strats) == {"BroadcastHashJoin"} and len(strats) == 7, strats
    # one exchange for the grouped distinct aggregate is allowed
    assert count_exchanges(df) <= 2


def test_tuned_compaction_loop_learns(spark, sf_dir):
    """Closed loop: repeated tuned runs of a recurring stage
    (suggest -> compact -> count -> observe) must record rewards for the
    played arms and keep results correct."""
    import time

    from data_chunk_compaction_in_duckdb_spark.catalog import load_table
    from data_chunk_compaction_in_duckdb_spark.compaction import (
        CompactTuner,
        compact,
    )

    li = load_table(spark, sf_dir, "lineitem").repartition(16)
    frag = li.filter(F.col("l_quantity") <= 5)
    expected = frag.count()
    tuner = CompactTuner(arms=(1_000, 10_000, 100_000))
    for _ in range(6):
        target = tuner.suggest("recurring_etl")
        t0 = time.monotonic()
        rows = compact(frag, target_rows=target).count()
        elapsed = max(time.monotonic() - t0, 1e-6)
        tuner.observe("recurring_etl", rows / elapsed)
        assert rows == expected
    bandit = tuner._bandit("recurring_etl")
    assert sum(s.pulls for s in bandit._states.values()) == 6
    assert tuner.best("recurring_etl") in (1_000, 10_000, 100_000)


def test_job_late_filter_chain_matches_oracle(spark, duck, sf_dir):
    assert_query_matches_oracle(spark, duck, sf_dir, "job_like_late_filter_chain")


def test_job_funnel_self_join_matches_oracle(spark, duck, sf_dir):
    assert_query_matches_oracle(spark, duck, sf_dir, "job_like_funnel_self_join")


def test_funnel_single_shuffle(spark, sf_dir):
    """Join and aggregate must share the user_id hash partitioning."""
    from data_chunk_compaction_in_duckdb_spark.plans import count_exchanges
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    df = REGISTRY["job_like_funnel_self_join"].builder(spark, sf_dir)
    assert count_exchanges(df) <= 2

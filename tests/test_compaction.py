"""Tests for the compaction layer (the research delta, SURVEY.md §0.1):
profiler, compact(), pipeline_break(), UCB1 tuner."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def test_partition_row_counts_sum(spark, sf_dir):
    from data_chunk_compaction_in_duckdb_spark.catalog import load_table
    from data_chunk_compaction_in_duckdb_spark.compaction import (
        partition_row_counts,
    )

    li = load_table(spark, sf_dir, "lineitem").repartition(8)
    counts = partition_row_counts(li)
    assert len(counts) == 8
    assert sum(counts) == li.count()


def test_compact_reduces_fragmentation_preserves_rows(spark, sf_dir):
    from data_chunk_compaction_in_duckdb_spark.catalog import load_table
    from data_chunk_compaction_in_duckdb_spark.compaction import (
        chunk_factor,
        compact,
        partition_histogram,
    )

    li = load_table(spark, sf_dir, "lineitem").repartition(32)
    # Selective filter → ~32 fragmented partitions (the reference's
    # post-filter fragmentation site).
    frag = li.filter((F.col("l_quantity") <= 2) & (F.col("l_discount") >= 0.09))
    before = partition_histogram(frag)
    out = compact(frag, target_rows=50)
    after = partition_histogram(out)
    assert after.n_rows == before.n_rows  # compaction never changes data
    assert after.n_partitions < before.n_partitions
    assert chunk_factor(frag, out) > 1.0
    assert after.mean_rows > before.mean_rows


def test_compact_noop_when_already_compact(spark, sf_dir):
    from data_chunk_compaction_in_duckdb_spark.catalog import load_table
    from data_chunk_compaction_in_duckdb_spark.compaction import compact

    li = load_table(spark, sf_dir, "lineitem").coalesce(2)
    out = compact(li, target_rows=10_000_000)
    assert out.rdd.getNumPartitions() <= 2


def test_pipeline_break_materializes(spark, sf_dir):
    from data_chunk_compaction_in_duckdb_spark.catalog import load_table
    from data_chunk_compaction_in_duckdb_spark.compaction import pipeline_break

    li = load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").count()
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = pipeline_break(li)
    # materialized without registering anything in the session's cache
    assert cache.isEmpty()
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, li.collect()))


def test_ucb1_converges_to_best_arm():
    from data_chunk_compaction_in_duckdb_spark.compaction import UCB1Bandit

    rng = random.Random(7)
    arms = (32, 64, 128, 256)
    true_mean = {32: 0.2, 64: 0.5, 128: 0.9, 256: 0.4}
    bandit = UCB1Bandit(arms=arms)
    for _ in range(400):
        arm = bandit.select()
        bandit.feedback(arm, true_mean[arm] + rng.gauss(0, 0.05))
    assert bandit.best_arm() == 128


def test_ucb1_drift_restart():
    from data_chunk_compaction_in_duckdb_spark.compaction import UCB1Bandit

    rng = random.Random(11)
    bandit = UCB1Bandit(arms=(1, 2))
    # Arm 2 best initially.
    for _ in range(100):
        arm = bandit.select()
        bandit.feedback(arm, (0.9 if arm == 2 else 0.3) + rng.gauss(0, 0.02))
    assert bandit.best_arm() == 2
    # Regime change: arm 2 collapses — bandit must re-explore and flip.
    for _ in range(200):
        arm = bandit.select()
        bandit.feedback(arm, (0.05 if arm == 2 else 0.3) + rng.gauss(0, 0.02))
    assert bandit.best_arm() == 1


def test_compact_tuner_per_stage():
    from data_chunk_compaction_in_duckdb_spark.compaction import CompactTuner

    tuner = CompactTuner(arms=(10, 20))
    for _ in range(50):
        a = tuner.suggest("stage_a")
        tuner.observe("stage_a", 1.0 if a == 10 else 0.1)
        b = tuner.suggest("stage_b")
        tuner.observe("stage_b", 1.0 if b == 20 else 0.1)
    assert tuner.best("stage_a") == 10
    assert tuner.best("stage_b") == 20


def test_fragmentation_report_flags_selective_join(spark, sf_dir):
    """A highly selective join must be flagged as fragmenting (the
    reference would compact after it); a keep-everything join must not."""
    from data_chunk_compaction_in_duckdb_spark.compaction import (
        fragmentation_report,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")

    selective = li.join(
        o.filter(F.col("o_totalprice") > 450000),
        li.l_orderkey == o.o_orderkey,
    )
    rep = fragmentation_report(selective.select("l_quantity"))
    assert len(rep) == 1
    assert rep[0]["fragmenting"] is True
    assert "compact" in rep[0]["recommendation"]

    keep_all = li.join(o, li.l_orderkey == o.o_orderkey)
    rep2 = fragmentation_report(keep_all.select("l_quantity"))
    assert len(rep2) == 1 and rep2[0]["fragmenting"] is False


def test_compact_strategy_matrix(spark):
    """The reference's strategy matrix (no/logical/full/binary/dynamic,
    run_bench.py:38-100) maps to distinct physical moves on a fragmented
    input."""
    import pytest as _pytest

    from data_chunk_compaction_in_duckdb_spark.compaction import compact

    frag = spark.range(0, 10_000).repartition(64)  # ~156 rows/partition

    assert compact(frag, target_rows=5_000, strategy="none") is frag

    logical = compact(frag, target_rows=5_000, strategy="logical")
    assert logical.rdd.getNumPartitions() == 2

    full = compact(frag, target_rows=5_000, strategy="full")
    assert full.rdd.getNumPartitions() == 2

    binary = compact(frag, target_rows=5_000, strategy="binary")
    assert binary.rdd.getNumPartitions() == 2

    dynamic = compact(frag, target_rows=5_000, strategy="dynamic")
    assert dynamic.rdd.getNumPartitions() == 2

    # already-compact input passes through under binary and dynamic
    ok = spark.range(0, 10_000).repartition(2)
    assert compact(ok, target_rows=5_000, strategy="binary").rdd.getNumPartitions() == 2
    assert compact(ok, target_rows=5_000, strategy="dynamic").rdd.getNumPartitions() == 2

    # an input that fits in one wave of the session's task slots is
    # returned as-is without a Spark job (no partition histogram)
    wave = spark.range(0, 10_000, numPartitions=2)
    sc = spark.sparkContext
    for strategy in ("binary", "dynamic"):
        group = f"compact-one-wave-{strategy}"
        sc.setJobGroup(group, group)
        try:
            out = compact(wave, target_rows=5_000, strategy=strategy)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert out is wave
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    with _pytest.raises(ValueError):
        compact(frag, strategy="learning")

#!/usr/bin/env python
"""Compaction strategy-matrix benchmark — the Spark analog of the
reference's branch-per-strategy experiment (run_bench.py:38-100 runs
no_cpt / full_cpt / binary_cpt / dynamic_cpt / logical_cpt / learning
over the same suites; vector_compaction.cpp:50-92 is the headline
chained-join microbenchmark).

Runs the chained-join microbench shape with each compact() strategy
applied to the post-filter fragmented stream, plus the learning branch
(CompactTuner over 6 iterations), and prints one JSON line:
{"strategies": {name: median_sec, ...}, "learning_curve": [...], ...}

Also asserts result equivalence across strategies — compaction is a
physical-layout transformation, so every branch must return identical
rows (the invariant the reference's per-strategy sqllogic runs pin).

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/strategy_matrix_bench.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 3


def main() -> None:
    from pyspark.sql import functions as F

    from data_chunk_compaction_in_duckdb_spark.catalog import load_table
    from data_chunk_compaction_in_duckdb_spark.compaction import (
        CompactTuner,
        compact,
    )
    from data_chunk_compaction_in_duckdb_spark.compaction.compact import (
        STRATEGIES,
    )
    from data_chunk_compaction_in_duckdb_spark.session import get_spark

    spark = get_spark(app_name="strategy-matrix")

    def pipeline(strategy: str):
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders")
        cust = load_table(spark, SF_DIR, "customer")
        nation = load_table(spark, SF_DIR, "nation")
        max_part = li.agg((F.max("l_partkey") / 10).alias("_maxp10"))
        filtered = (
            li.crossJoin(F.broadcast(max_part))
            .filter(F.col("l_partkey") <= F.col("_maxp10"))
            .drop("_maxp10")
        )
        filtered = compact(filtered, target_rows=100_000, strategy=strategy)
        return (
            filtered.join(orders, filtered.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("l_extendedprice"), 2).alias("total"),
            )
        )

    results: dict[str, float] = {}
    golden = None
    try:
        for strategy in STRATEGIES:
            def run() -> float:
                t0 = time.monotonic()
                pipeline(strategy).write.format("noop").mode("overwrite").save()
                return time.monotonic() - t0

            run()  # warm-up
            results[strategy] = round(
                statistics.median(run() for _ in range(REPS)), 4
            )
            rows = sorted(tuple(r) for r in pipeline(strategy).collect())
            if golden is None:
                golden = rows
            elif rows != golden:
                raise AssertionError(
                    f"strategy {strategy} changed results — compaction must"
                    " be semantically transparent"
                )

        # learning branch: the bandit converges a per-stage target
        tuner = CompactTuner()
        curve = []
        li = load_table(spark, SF_DIR, "lineitem")
        max_part_val = li.agg(F.max("l_partkey")).first()[0] / 10
        frag = li.filter(F.col("l_partkey") <= max_part_val)
        for _ in range(6):
            target = tuner.suggest("microbench_filter")
            t0 = time.monotonic()
            n_rows = compact(frag, target_rows=target).count()
            elapsed = max(time.monotonic() - t0, 1e-6)
            tuner.observe("microbench_filter", n_rows / elapsed)
            curve.append(round(elapsed, 4))

        print(
            json.dumps(
                {
                    "metric": "strategy_matrix_chained_join_sec",
                    "sf_dir": SF_DIR,
                    "strategies": results,
                    "learning_curve": curve,
                    "rows_identical_across_strategies": True,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

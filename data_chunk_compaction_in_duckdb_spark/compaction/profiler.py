"""Partition-size profiling — the chunk-size/chunk-factor instrumentation
(reference profiler.hpp: ZebraProfiler per-chunk-size histograms :235-332,
HashJoinProfiler chunk factor :335-432) at Spark's partition granularity.

All stats are computed JVM-side (spark_partition_id + groupBy), no Python
row traffic, so profiling a 100 TB DataFrame costs one narrow aggregation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_row_counts(df: DataFrame, n_partitions: int | None = None) -> list[int]:
    """Rows per partition, index-aligned (empty partitions report 0).

    ``df.rdd.getNumPartitions()`` and the pids observed inside the
    groupBy can disagree: each is its own query execution, and AQE may
    coalesce them differently (observed: pid 34 from a 32-partition
    rdd view).  Size by whichever is larger so an AQE mismatch degrades
    to extra trailing zeros instead of an IndexError.

    ``n_partitions`` is the planned count when the caller already read
    it (compact() does), so the plan is not built twice."""
    # JVM-side partition probe — identical count to df.rdd without
    # building the Python-serialized RDD (~540 ms driver cost per call).
    if n_partitions is None:
        n_partitions = df._jdf.queryExecution().toRdd().getNumPartitions()
    rows = (
        df.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    out = [0] * max([n_partitions] + [r["_pid"] + 1 for r in rows])
    for r in rows:
        out[r["_pid"]] = r["_n"]
    return out


@dataclass(frozen=True)
class PartitionHistogram:
    """Summary of a DataFrame's partition-size distribution — the analog of
    the reference's chunk-size histogram (≤2048 buckets, profiler.hpp:235)."""

    n_partitions: int
    n_rows: int
    min_rows: int
    max_rows: int
    mean_rows: float
    p50_rows: int
    empty_partitions: int
    # fraction of partitions smaller than half the mean
    undersized_fraction: float


def partition_histogram(
    df: DataFrame, n_partitions: int | None = None
) -> PartitionHistogram:
    counts = partition_row_counts(df, n_partitions)
    if not counts:
        return PartitionHistogram(0, 0, 0, 0, 0.0, 0, 0, 0.0)
    total = sum(counts)
    mean = total / len(counts)
    srt = sorted(counts)
    under = sum(1 for c in counts if c < mean / 2) if mean > 0 else 0
    return PartitionHistogram(
        n_partitions=len(counts),
        n_rows=total,
        min_rows=srt[0],
        max_rows=srt[-1],
        mean_rows=mean,
        p50_rows=srt[len(srt) // 2],
        empty_partitions=sum(1 for c in counts if c == 0),
        undersized_fraction=under / len(counts),
    )


def chunk_factor(input_df: DataFrame, output_df: DataFrame) -> float:
    """Reference chunk factor (profiler.hpp:366-369): input data units ÷
    output data units through an operator.  >1 means the operator
    compacted; <1 means it fragmented."""
    out_parts = max(1, output_df._jdf.queryExecution().toRdd().getNumPartitions())
    return input_df._jdf.queryExecution().toRdd().getNumPartitions() / out_parts


def fragmentation_report(df: DataFrame, execute: bool = True) -> list[dict]:
    """Where would the reference compact this plan?

    The paper's decision rule: operators whose output is much smaller
    than their input (selective filters/joins) fragment the stream and
    should be followed by compaction (physical_operator.cpp:130-144
    gates; threshold default 128/2048 ≈ 0.0625).  This combines the
    executed plan's per-join row factors with that rule: each join whose
    row factor falls below `compact()`'s worthwhile range gets a
    recommendation.  At cluster scale the same signal drives AQE's
    partition coalescing; this report makes the decision observable and
    feeds `CompactTuner` stages.

    The degenerate case never reaches the report: a branch AQE proves
    empty at runtime is replaced by EmptyRelation and the join vanishes
    from the executed plan — the extreme end of compaction, performed by
    the optimizer itself.
    """
    from data_chunk_compaction_in_duckdb_spark.plans.metrics import (
        join_row_factors,
    )

    report = []
    for f in join_row_factors(df, execute=execute):
        factor = f["row_factor"]
        if factor is None:
            continue
        report.append(
            {
                **f,
                "fragmenting": factor < 0.5,
                "recommendation": (
                    "compact (coalesce) downstream" if factor < 0.5
                    else "leave as-is"
                ),
            }
        )
    return report

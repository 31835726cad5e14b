"""DataFrame compaction operators.

compact()        ≈ CompactingPhysicalOperator (reference
                 physical_operator.cpp:250-311): coalesce undersized data
                 units toward a target size before the next operator.
pipeline_break() ≈ PhysicalPipelineBreaker (physical_pipeline_breaker.cpp:
                 38-118): explicit materialization barrier.

The reference distinguishes *logical* compaction (dictionary-slice
concatenation, no copy — join_hashtable.cpp:513-565) from *full*
compaction (copying cache, physical_operator.cpp:275-300).  The Spark
analogs preserve that split:

- ``coalesce(n)``    — no shuffle, merges partitions by concatenating
                       their task inputs → logical compaction
- ``repartition(n)`` — full shuffle, rebalances skew → full compaction

compact() picks the cheaper one that reaches the target, exactly like the
reference emits the cache only when it crosses the threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_chunk_compaction_in_duckdb_spark.compaction.profiler import (
    partition_histogram,
)

# Default target mirrors AQE's advisory partition size at ~64MB of wide
# rows; for row-count mode the reference's full vector (2048) scales to a
# partition-level default of 1M rows.
DEFAULT_TARGET_ROWS = 1_000_000


#: The reference's compaction-strategy matrix (run_bench.py:38-100 runs
#: one git branch per strategy over the same three suites).
STRATEGIES = ("none", "logical", "full", "binary", "dynamic")

#: ``dynamic`` repartitions (rebalances) instead of coalescing when the
#: largest partition exceeds this multiple of the mean.
SKEW_TOLERANCE = 4.0


def compact(
    df: DataFrame,
    target_rows: int = DEFAULT_TARGET_ROWS,
    strategy: str = "dynamic",
) -> DataFrame:
    """Coalesce a fragmented DataFrame toward ``target_rows`` per
    partition.

    ``strategy`` mirrors the reference's strategy matrix (one git branch
    each, run_bench.py:38-100), mapped to Spark's two physical moves:

    - ``none``     (no_cpt): pass-through, never compact.
    - ``logical``  (logical_cpt): always ``coalesce`` — merge partitions
      by concatenating task inputs, no copy/shuffle (the dictionary-
      slice concatenation analog, join_hashtable.cpp:513-565).
    - ``full``     (full_cpt): always ``repartition`` — one shuffle,
      rebalances skew (the copying-cache analog).
    - ``binary``   (binary_cpt): all-or-nothing at the threshold —
      fragmented means full compaction, otherwise pass-through.
    - ``dynamic``  (dynamic_cpt, default): histogram heuristic — cheap
      coalesce when fragmented-but-balanced, repartition only under
      skew (max > SKEW_TOLERANCE x mean).

    The learning branch of the matrix is `CompactTuner`: the bandit
    picks ``target_rows``, this function executes the move, and the
    caller feeds the stage's throughput back (see its docstring).

    ``binary`` and ``dynamic`` decide on the input they hold, as the
    reference does (no look-ahead pass, physical_operator.cpp:250-311):
    when the planned partition count is at most the session's task slots
    (``defaultParallelism``) the input already runs in one wave of tasks
    and returns as-is, with no histogram job.  Merging it could save at
    most n - 1 task launches; the histogram costs a re-run of the whole
    upstream subtree.  This is the reference's pass-through for a chunk
    at or above the threshold (physical_operator.cpp:262-266) at Spark's
    unit of work.

    Wider inputs, and every ``logical``/``full`` call, get the partition
    histogram (one narrow JVM-side aggregation) first; already-compact
    inputs return as-is under every strategy but ``full``.  At 100 TB the
    histogram job is the same scan AQE already does for its runtime
    statistics; call compact() after selective filters/joins where AQE's
    stage boundary isn't available (mid-stage narrow chains).
    """
    if strategy not in STRATEGIES:
        raise ValueError(
            f"strategy must be one of {STRATEGIES} (learning = CompactTuner"
            ".suggest + compact(target_rows=))"
        )
    if strategy == "none":
        return df
    # The physical RDD's partition count: planning only, except that
    # under AQE an input ending in an exchange runs its map stage here.
    n = df._jdf.queryExecution().toRdd().getNumPartitions()
    if (
        strategy in ("binary", "dynamic")
        and n <= df.sparkSession.sparkContext.defaultParallelism
    ):
        return df  # one wave of tasks already
    hist = partition_histogram(df, n_partitions=n)
    if hist.n_rows == 0 or hist.n_partitions <= 1:
        return df
    needed = max(1, -(-hist.n_rows // target_rows))  # ceil
    if needed >= hist.n_partitions:
        return df  # nothing to merge
    if strategy == "logical":
        return df.coalesce(needed)
    if strategy == "full":
        return df.repartition(needed)
    if strategy == "binary":
        fragmented = hist.mean_rows < target_rows / 2
        return df.repartition(needed) if fragmented else df
    skewed = hist.max_rows > SKEW_TOLERANCE * max(hist.mean_rows, 1.0)
    if skewed:
        return df.repartition(needed)
    return df.coalesce(needed)


def pipeline_break(df: DataFrame) -> DataFrame:
    """Materialization barrier: evaluate ``df`` once, now.

    The reference inserts PhysicalPipelineBreaker under long join chains
    so each hash table stays cache-resident while it is probed
    (split_long_pipeline.cpp:7-33).  In Spark the analog is materializing
    the intermediate so divergent/downstream stages reuse one
    materialization instead of recomputing the subtree.  An eager local
    checkpoint does that and leaves nothing in the session's cache
    manager: its blocks belong to the returned DataFrame alone, so no
    cached intermediate outlives the caller's use of it.
    """
    return df.localCheckpoint(eager=True)


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """The inverse of compact(): widen an under-parallel scan before a
    CPU-bound narrow stage (n-gram generation, UDF feature extraction).

    A single parquet file with one row group plans as ONE task no matter
    how many cores exist — maxPartitionBytes cannot split below row-group
    granularity — so per-row-expensive expressions serialize.  When the
    current partition count is below the session's default parallelism,
    round-robin repartition up to it; otherwise return the input
    unchanged, so on a real cluster (where scans already carry thousands
    of partitions) this is a no-op and adds no shuffle.

    ``bytes_per_task`` caps the widening by the optimizer's input-size
    estimate (r10, guide §2.2 "fewer, larger tasks"): vectorized Arrow
    kernels do near-constant work per row, so splitting a few-MB input
    across every scheduler slot pays 32 Python-task fixed costs to save
    nothing — interleaved A/B on sim_ann_ivf_topk at sf0.1: slot-count
    fan-out 0.82 s med vs size-capped 0.56 s.  Interpreted per-row
    expression stages (n-gram HOFs, md5 shingles) keep the slot-count
    widening — there the per-row cost dominates the task overhead.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_task:
        est = int(
            str(
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        target = max(1, min(target, -(-est // bytes_per_task)))
    # JVM-side probe: ``df.rdd`` builds the full Python-serialized RDD
    # (measured ~540 ms per call, driver-side) just to read a partition
    # count; ``queryExecution().toRdd()`` is the same physical RDD
    # without the Python conversion layer (~3.5x cheaper, identical
    # count).  fan_out sits in per-invocation builder paths, so this is
    # pure fixed-overhead removal (guide §1.2 step 2).
    if df._jdf.queryExecution().toRdd().getNumPartitions() >= target:
        return df
    return df.repartition(target)

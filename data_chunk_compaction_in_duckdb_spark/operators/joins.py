"""Join operators Spark lacks natively.

Reference operators covered:
- ASOF_JOIN  (src/execution/operator/join/physical_asof_join.cpp, 951 LoC):
  latest-value-at-or-before join, partitioned by equi-keys.
- POSITIONAL_JOIN (join/physical_positional_join.cpp, 196 LoC): row-number
  alignment of two relations.

Both are expressed as compositions of built-in ops (union + window /
row_number + equi-join) so they stay inside Catalyst's optimizer and
whole-stage codegen — the Spark-first alternative to a custom physical
operator.  Cost model: one shuffle on the partition keys each, same as
any window/group-by; no driver-side state, scales with executors.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_values: Sequence[str] | None = None,
    direction: str = "backward",
    suffix: str = "_right",
) -> DataFrame:
    """As-of join: for each left row, attach the right row with the largest
    ``right_ts <= left_ts`` (direction='backward'; 'forward' = smallest
    ``right_ts >= left_ts``) within the same ``on`` equi-key group.

    Implementation (single shuffle, no per-group pandas): tag both sides,
    union by key + timestamp, pack ALL right payload columns into ONE
    struct, and carry ``last(struct, ignorenulls=True)`` over a
    key-partitioned window ordered by (ts, side) — right rows sort
    before left rows at equal timestamps, so ties match, exactly DuckDB's
    ``ASOF JOIN ... ON l.ts >= r.ts`` semantics (physical_asof_join.cpp
    sorts each key partition the same way).  Unmatched left rows keep
    NULLs (ASOF LEFT JOIN); filter on the carried ts for inner semantics.

    The single-struct carry matters for correctness: carrying each value
    column independently would fill a NULL field of the matched row from
    an OLDER right row, mixing fields across rows — the reference attaches
    the one matched row with its NULLs intact.

    Scale: the only shuffle is the window partition on ``on`` — identical
    cost to a window aggregate; no driver state, no cross join.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    on = list(on)
    if right_values is None:
        right_values = [c for c in right.columns if c not in on and c != right_ts]
    val_out = {c: (c + suffix if c in left.columns else c) for c in right_values}
    ts_out = right_ts + suffix if right_ts in left.columns else right_ts
    left_rest = [c for c in left.columns if c not in on]
    ldt, rdt = dict(left.dtypes), dict(right.dtypes)

    struct_ddl = ",".join(
        [f"`{o}`:{rdt[c]}" for c, o in val_out.items()]
        + [f"`{ts_out}`:{rdt[right_ts]}"]
    )
    l_side = left.select(
        *on,
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left_rest],
        F.lit(None).cast(f"struct<{struct_ddl}>").alias("_rp"),
    )
    r_side = right.select(
        *on,
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(ldt[c]).alias(c) for c in left_rest],
        F.struct(
            *[F.col(c).alias(o) for c, o in val_out.items()],
            F.col(right_ts).alias(ts_out),
        ).alias("_rp"),
    )
    u = l_side.unionByName(r_side)

    ats = F.col("_ats").asc() if direction == "backward" else F.col("_ats").desc()
    w = (
        Window.partitionBy(*on)
        .orderBy(ats, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_rp", F.last("_rp", ignorenulls=True).over(w))
    return u.filter(F.col("_side") == 1).select(
        *left.columns,
        *[F.col(f"_rp.`{o}`").alias(o) for o in val_out.values()],
        F.col(f"_rp.`{ts_out}`").alias(ts_out),
    )


def mark_join(
    left: DataFrame,
    right: DataFrame,
    probe_col: str,
    right_key: str,
    out_col: str = "mark",
) -> DataFrame:
    """MARK join (reference join_hashtable.cpp:629-672,
    ConstructMarkJoinResult): appends a boolean ``out_col`` implementing
    ANSI three-valued ``probe IN (SELECT key FROM right)``:

    - TRUE   — a matching non-NULL build key exists
    - FALSE  — no match, build side has no NULLs (or build side is empty)
    - NULL   — probe is NULL and build is non-empty, or no match but the
               build side contains NULLs

    Needed because Catalyst plans projection-level IN-subqueries as a
    non-null-aware ExistenceJoin, returning FALSE where SQL requires NULL
    (verified against DuckDB).  Cost: one distinct on build keys + one
    equi-join + a broadcast 1-row stats aggregate — all shuffle-parallel.
    """
    build = right.select(F.col(right_key).alias("_bk"))
    stats = build.agg(
        F.count(F.lit(1)).alias("_bn"),
        F.coalesce(F.max(F.col("_bk").isNull().cast("int")), F.lit(0)).alias(
            "_bnull"
        ),
    )
    keys = build.filter(F.col("_bk").isNotNull()).distinct()
    probe = F.col(probe_col)
    out = (
        left.join(F.broadcast(stats))
        .join(keys, probe == keys["_bk"], "left")
        .withColumn(
            out_col,
            F.when(
                probe.isNull(),
                F.when(F.col("_bn") > 0, F.lit(None).cast("boolean")).otherwise(
                    F.lit(False)
                ),
            )
            .when(F.col("_bk").isNotNull(), F.lit(True))
            .when(F.col("_bnull") == 1, F.lit(None).cast("boolean"))
            .otherwise(F.lit(False)),
        )
    )
    return out.drop("_bk", "_bn", "_bnull")


def _global_row_number(df: DataFrame, order: Sequence[str], out_col: str) -> DataFrame:
    """Distributed global row numbering: range-repartition on the order
    keys, number rows within each partition (one local sort), then add
    broadcast exclusive prefix-counts per partition — no single-task
    window anywhere; the only driver-independent sync is the tiny
    per-partition count table."""
    cols = [F.col(c) for c in order]
    partitions = df.sparkSession.sparkContext.defaultParallelism  # one per core
    d = (
        df.repartitionByRange(partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        # REQUIRED for correctness: the numbering window and the
        # per-partition count table both consume this subtree; without
        # materialization each job re-executes repartitionByRange and the
        # runtime _pid assignment need not agree across jobs, so offsets
        # would belong to a different partitioning than the local row
        # numbers (the win_frame_range_value sf0.1 divergence).
        .persist()
    )
    wloc = Window.partitionBy("_pid").orderBy(*cols)
    d = d.withColumn("_lrn", F.row_number().over(wloc))
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    off = counts.select(
        "_pid", F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off")
    )
    return (
        d.join(F.broadcast(off), "_pid")
        .withColumn(out_col, (F.col("_lrn") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def positional_join(
    left: DataFrame,
    right: DataFrame,
    left_order: Sequence[str],
    right_order: Sequence[str],
    how: str = "full",
) -> DataFrame:
    """POSITIONAL JOIN: align two relations row-by-row.

    Spark DataFrames have no stable row order, so callers supply explicit
    total orders for each side (the reference's file order is likewise an
    implementation detail, physical_positional_scan.cpp:211).  Rows are
    numbered per side and equi-joined on position; 'full' pads the shorter
    side with NULLs like the reference.

    Scale: numbering uses the distributed prefix-count scheme
    (_global_row_number) — range partition, local row_number, broadcast
    offsets — so neither side ever funnels through one task, and the
    final equi-join on ``_pos`` shuffles both sides by position as any
    co-partitioned join would."""
    ln = _global_row_number(left, left_order, "_pos")
    rn = _global_row_number(right, right_order, "_pos")
    return ln.join(rn, "_pos", how).drop("_pos")

"""Sequence packing for training-data preparation: the concat-and-chunk
step that turns a document corpus into fixed-capacity context windows.

Every document is laid out at its global token offset in a deterministic
corpus order (id order); window k owns token span [k*capacity,
(k+1)*capacity).  A document whose span crosses a boundary is flagged —
downstream either splits it at the boundary (the offsets give the exact
cut) or re-packs it; both policies read off this layout.

Scale: the global token offset is the distributed prefix-sum scheme the
engine already uses for positional numbering (operators/joins.py
_global_row_number): range-repartition on the order key, ONE local
cumulative sum per partition, broadcast per-partition totals as
exclusive offsets.  No single-task window; the persisted pid-tagged
stream is a correctness requirement (partition ids must come from one
materialized partitioning — the win_frame_range_value lesson).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pack_training_windows(
    docs: DataFrame,
    id_col: str,
    tokens: Column,
    capacity: int,
) -> DataFrame:
    """(id, n_tokens, window_id, offset_in_window, crosses_boundary)
    for the sequential concat-and-chunk layout in id order, range-split
    into one partition per core (``defaultParallelism``)."""
    partitions = docs.sparkSession.sparkContext.defaultParallelism
    d = (
        docs.select(F.col(id_col).alias("_id"), tokens.alias("_tok"))
        .repartitionByRange(partitions, F.col("_id"))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    wloc = Window.partitionBy("_pid").orderBy("_id")
    d = d.withColumn("_lcum", F.sum("_tok").over(wloc))
    totals = d.groupBy("_pid").agg(F.sum("_tok").alias("_t"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    off = totals.select(
        "_pid", F.coalesce(F.sum("_t").over(woff), F.lit(0)).alias("_off")
    )
    cum = (F.col("_lcum") + F.col("_off")).cast("long")
    before = cum - F.col("_tok")
    return (
        d.join(F.broadcast(off), "_pid")
        .select(
            F.col("_id").alias(id_col),
            F.col("_tok").cast("long").alias("n_tokens"),
            (before - before % capacity).cast("long").alias("_wstart"),
            (before % capacity).cast("long").alias("offset_in_window"),
            ((before % capacity + F.col("_tok")) > capacity).alias(
                "crosses_boundary"
            ),
        )
        .withColumn("window_id", (F.col("_wstart") / capacity).cast("long"))
        .drop("_wstart")
    )

"""Streaming queries over the events table.

Local smoke path: parquet file stream → watermarked tumbling-window
aggregation → memory sink, driven synchronously with
processAllAvailable() (the guide's pattern for deterministic tests).
On a cluster the same query graph reads Kafka and writes a sink with
checkpointing; nothing in the transformation changes.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_chunk_compaction_in_duckdb_spark.catalog import footer_schema


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming file sources need an explicit schema; take the one the
    # batch catalog binds (the footer's, else a batch read's inference), so
    # the stream tracks whatever physical type the fixture uses for ts
    # (int64 nanoseconds in older fixtures, native timestamp[us] in
    # current ones).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = footer_schema(spark, path) or spark.read.parquet(path).schema
    # The streaming file source requires a directory: scan sf_dir with a
    # glob pinned to the events file.
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if dict(raw.dtypes).get("ts") == "bigint":
        # ns→µs NTZ, same arithmetic construction as catalog.load_table
        # (session-TZ independent).
        raw = raw.withColumn(
            "ts",
            F.expr(
                "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval("
                "0, 0, 0, CAST(ts div 1000 AS DECIMAL(26,6)) / 1000000)"
            ),
        )
    return raw


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts per event type — the streaming
    twin of the batch events_tumbling_window query (same results once the
    watermark closes every window)."""
    ev = _event_stream(spark, sf_dir)
    # Watermarks accept TIMESTAMP but not TIMESTAMP_NTZ: map the NTZ
    # wall-clock onto the identical UTC instant arithmetically (no session
    # TZ involved), window on that, and convert the window start back to
    # NTZ so the output matches the batch twin under any driver timezone.
    ev = ev.withColumn(
        "ts_evt",
        F.timestamp_micros(
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        ),
    )
    return (
        ev.withWatermark("ts_evt", "1 hour")
        .groupBy(F.window("ts_evt", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.expr(
                "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval("
                "0, 0, 0, CAST(unix_micros(w.start) AS DECIMAL(26,6))"
                " / 1000000)"
            ).alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )


def _make_sessionizer(gap_minutes: int):
    gap_us = gap_minutes * 60 * 1_000_000

    def sessionize(key, pdfs, state):
        # Closure-serialized (no module imports on executors).
        import pandas as pd

        (user_id,) = key
        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value) // 1000 for t in pdf["ts"])
        ts_us.sort()
        for t in ts_us:
            if last_ts is None or (t - last_ts) > gap_us:
                n_sessions += 1
            last_ts = t
            n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    return sessionize


def streaming_sessionize(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user session counting with an inactivity gap, state = (last event
    time, session count, event count) carried across micro-batches.
    The batch twin is queries/events_q.events_sessionization — with the
    whole fixture in one micro-batch the outputs agree, which the test
    asserts."""
    ev = _event_stream(spark, sf_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _make_sessionizer(gap_minutes),
        outputStructType="user_id LONG, n_sessions INT, n_events INT",
        stateStructType="last_ts LONG, n_sessions INT, n_events INT",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_stream_to_memory(
    df: DataFrame, name: str = "stream_out", mode: str = "append"
) -> None:
    """Drive a streaming DataFrame to completion into a memory sink —
    synchronous, for tests/smoke.  Caller reads spark.table(name)."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _ts_as_utc_instant(ev: DataFrame) -> DataFrame:
    """NTZ wall-clock → identical UTC instant (watermark-compatible
    TIMESTAMP), session-TZ independent."""
    return ev.withColumn(
        "ts_evt",
        F.timestamp_micros(
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        ),
    )


def _win_start_ntz(col: str) -> Column:
    return F.expr(
        "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval("
        f"0, 0, 0, CAST(unix_micros({col}) AS DECIMAL(26,6)) / 1000000)"
    )


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (2 h window, 1 h slide) per-type counts — each event
    lands in two windows; the overlap is what a rate monitor smooths
    with."""
    ev = _ts_as_utc_instant(_event_stream(spark, sf_dir))
    return (
        ev.withWatermark("ts_evt", "1 hour")
        .groupBy(
            F.window("ts_evt", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            _win_start_ntz("w.start").alias("win_start"), "event_type", "n"
        )
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven session windows (30-min inactivity gap) per user via
    the built-in session_window — the declarative form of sessionization
    (streaming_sessionize is the applyInPandasWithState form for custom
    state)."""
    ev = _ts_as_utc_instant(_event_stream(spark, sf_dir))
    return (
        ev.withWatermark("ts_evt", "1 hour")
        .groupBy(F.session_window("ts_evt", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", _win_start_ntz("w.start").alias("sess_start"), "n_events"
        )
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) within the
    watermark — the streaming twin of the corpus dedup stage: state keeps
    one fingerprint per key and drops repeats as they arrive."""
    ev = _ts_as_utc_instant(_event_stream(spark, sf_dir))
    return (
        ev.withWatermark("ts_evt", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def streaming_static_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream joins a bounded static
    dimension (per-user tier derived from a batch read) executor-side —
    no state, the static side is broadcast per micro-batch — then rolls
    up value by tier."""
    static_dim = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_total"))
        .select(
            "user_id",
            F.when(F.col("n_total") >= 100, "heavy")
            .otherwise("light")
            .alias("tier"),
        )
    )
    ev = _event_stream(spark, sf_dir)
    return (
        ev.join(static_dim, "user_id")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase matches the
    same user's clicks in the preceding 30 minutes.  Both sides carry
    watermarks and the join condition bounds event time on both sides, so
    Spark can expire join state (the unbounded-state hazard of
    stream-stream joins); output is append-mode rows.  Timestamps are
    converted back to NTZ so results are session-TZ independent, matching
    the batch twin exactly."""
    clicks = (
        _ts_as_utc_instant(_event_stream(spark, sf_dir))
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts_evt").alias("c_ts"))
    )
    buys = (
        _ts_as_utc_instant(_event_stream(spark, sf_dir))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts_evt").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    joined = clicks.withWatermark("c_ts", "1 hour").join(
        buys.withWatermark("p_ts", "1 hour"),
        F.expr(
            "c_user = p_user"
            " AND c_ts >= p_ts - INTERVAL 30 MINUTES"
            " AND c_ts <= p_ts"
        ),
        "inner",
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        _win_start_ntz("c_ts").alias("click_ts"),
        _win_start_ntz("p_ts").alias("purchase_ts"),
        F.col("p_value").alias("purchase_value"),
    )


def streaming_upsert_sink(
    spark: SparkSession, sf_dir: str, state_path: str
) -> None:
    """foreachBatch upsert sink — the production pattern for maintaining
    a keyed state table from a stream (stream -> per-batch aggregate ->
    MERGE into the sink; with Delta/Iceberg the merge is the table
    format's MERGE INTO, here the dependency-free parquet swap).

    Each micro-batch aggregates per user, merges with the current state
    by summing counts/totals (associative, so batch boundaries never
    change the result), and atomically swaps the state table via a tmp
    path (read-modify-overwrite of the same path would race the scan).
    Synchronous (processAllAvailable) for tests; identical graph runs
    against Kafka + checkpoint on a cluster."""
    from py4j.protocol import Py4JJavaError

    ev = _event_stream(spark, sf_dir)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("value").alias("total")
        )
        try:
            cur = spark.read.parquet(state_path)
            merged = (
                cur.unionByName(agg)
                .groupBy("user_id")
                .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
            )
        except Exception:  # noqa: BLE001 — first batch: no state yet
            merged = agg
        tmp = state_path + "_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(state_path)

    q = (
        ev.writeStream.foreachBatch(merge)
        .option("checkpointLocation", state_path + "_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def streaming_left_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: every purchase
    row is emitted, with its same-user clicks from the preceding 30
    minutes or NULL click columns when none arrived.  The outer
    (null-padded) rows can only be emitted once the click-side watermark
    has passed the purchase's join window — Spark holds them in state
    until then and flushes them on the no-data micro-batch that advances
    the final watermark.  Callers comparing against a batch twin must
    therefore bound the comparison to purchases older than the final
    watermark (max event time - delay); the tail is *correctly* still
    unresolved at drain time."""
    clicks = (
        _ts_as_utc_instant(_event_stream(spark, sf_dir))
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts_evt").alias("c_ts"))
    )
    buys = (
        _ts_as_utc_instant(_event_stream(spark, sf_dir))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts_evt").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    joined = buys.withWatermark("p_ts", "1 hour").join(
        clicks.withWatermark("c_ts", "1 hour"),
        F.expr(
            "c_user = p_user"
            " AND c_ts >= p_ts - INTERVAL 30 MINUTES"
            " AND c_ts <= p_ts"
        ),
        "left_outer",
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        _win_start_ntz("c_ts").alias("click_ts"),
        _win_start_ntz("p_ts").alias("purchase_ts"),
        F.col("p_value").alias("purchase_value"),
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf runtime for its
    state-server protocol; probe it so callers can gate (this container
    ships pyspark 4.1 with the API but without google.protobuf)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        from pyspark.sql.streaming import StatefulProcessor  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_tws_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via transformWithStateInPandas (Spark 4's
    arbitrary-stateful API, the successor to applyInPandasWithState):
    one ValueState(n, cents) per user, updated per micro-batch, emitting
    the running totals in Update mode.  Money accumulates as integer
    cents inside the processor so the drained totals equal the batch
    groupBy bit-for-bit.  Raises ImportError when the protobuf runtime
    is absent (see tws_available); the applyInPandasWithState
    sessionizer covers custom state where TWS cannot run."""
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf, which "
            "is not installed in this environment"
        )
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor

    class RunningTotals(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("totals", "n LONG, cents LONG")

        def handleInputRows(self, key, rows, timerValues):
            st = self._state.get()
            n, cents = (st[0], st[1]) if st else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["value"].astype("float64").mul(100).round().sum())
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "cents": [cents]}
            )

        def close(self) -> None:
            pass

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = _event_stream(spark, sf_dir).select("user_id", "value")
    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id LONG, n LONG, cents LONG",
        outputMode="Update",
        timeMode="None",
    )


def streaming_versioned_sink(
    spark: SparkSession, sf_dir: str, table_path: str
) -> "VersionedTable":
    """foreachBatch sink into the versioned table store — the lakehouse
    ingestion pattern: each micro-batch becomes ONE transactional
    commit (append for the raw stream here; `merge` for keyed upserts),
    so downstream readers only ever see whole batches, a crash between
    batches loses nothing already committed, and the commit log records
    the ingestion history batch-by-batch.  Exactly-once composition:
    the streaming checkpoint dedups replayed batches on restart via the
    batch_id guard (a replayed micro-batch sees its version already in
    the log and skips), the store's O_EXCL manifests serialize
    concurrent writers.

    Synchronous (processAllAvailable) for tests; the identical graph
    runs against Kafka + checkpoint on a cluster."""
    import os as _os

    from data_chunk_compaction_in_duckdb_spark.storage import VersionedTable

    ev = _event_stream(spark, sf_dir)
    if _os.path.isdir(_os.path.join(table_path, "_log")):
        vt = VersionedTable(spark, table_path)  # restart: resume the log
    else:
        empty = spark.createDataFrame([], ev.schema)
        vt = VersionedTable.create(spark, table_path, empty)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotence guard: version k+1 corresponds to batch k; a
        # replayed batch after checkpoint recovery is already committed
        if vt.latest_version() >= batch_id + 1:
            return
        vt.insert(batch_df)

    q = (
        ev.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", table_path + "_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return vt

"""The fixture catalog binds tables from parquet footers without Spark jobs.

`catalog.footer_schema` must equal Spark's own inference whenever it
answers, and answer None (so `load_table` infers) for every column type
whose inferred Spark type the footer alone does not fix.
"""

from __future__ import annotations

import datetime
import os
import shutil
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from data_chunk_compaction_in_duckdb_spark import catalog

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _jobs_run(spark, fn, group: str) -> list[int]:
    """Ids of the Spark jobs ``fn()`` launches, read from the status
    tracker under a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_fixture_tables_bind_from_footer_as_inferred(spark, sf_dir, sf):
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    for name in catalog.TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert catalog.footer_schema(spark, path) is not None, name
        inferred = spark.read.parquet(path).schema
        assert catalog.load_table(spark, sf_dir, name).schema == inferred, name


_FALLBACK_COLUMNS = {
    "ts_ns": pa.array([1_000_001_234, None], pa.timestamp("ns")),
    "ts_us_utc": pa.array([1_000_001, None], pa.timestamp("us", tz="UTC")),
    "u32": pa.array([1, 4_000_000_000], pa.uint32()),
    "nested_struct": pa.array([{"x": 1, "y": "a"}, None]),
    "blob": pa.array([b"\x00\x01", None], pa.binary()),
}


@pytest.mark.parametrize("column", sorted(_FALLBACK_COLUMNS))
def test_unmapped_types_fall_back_to_inference(spark, tmp_path, column):
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()), column: _FALLBACK_COLUMNS[column]}),
        tmp_path / f"{column}.parquet",
    )
    path = str(tmp_path / f"{column}.parquet")
    assert catalog.footer_schema(spark, path) is None
    loaded = catalog.load_table(spark, str(tmp_path), column)
    assert loaded.schema == spark.read.parquet(path).schema


def test_mapped_types_equal_inference(spark, tmp_path):
    path = str(tmp_path / "mapped.parquet")
    pq.write_table(
        pa.table(
            {
                "b": pa.array([True, None]),
                "i8": pa.array([1, None], pa.int8()),
                "i16": pa.array([1, None], pa.int16()),
                "i32": pa.array([1, None], pa.int32()),
                "i64": pa.array([1, None], pa.int64()),
                "f32": pa.array([1.5, None], pa.float32()),
                "f64": pa.array([1.5, None], pa.float64()),
                "s": pa.array(["a", None]),
                "d": pa.array([datetime.date(2020, 1, 2), None]),
                "ts": pa.array([1, None], pa.timestamp("us")),
                "req": pa.array([[1], [2]], pa.list_(pa.field("e", pa.int32(), False))),
                "nested": pa.array([[[1.0, None]], None], pa.list_(pa.list_(pa.float64()))),
            }
        ),
        path,
    )
    footer = catalog.footer_schema(spark, path)
    assert footer == spark.read.parquet(path).schema
    assert footer["ts"].dataType == T.TimestampNTZType()


def test_ntz_inference_off_falls_back(spark, tmp_path):
    path = str(tmp_path / "ts.parquet")
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("us"))}), path)
    prior = spark.conf.get(NTZ_CONF)
    spark.conf.set(NTZ_CONF, "false")
    try:
        assert catalog.footer_schema(spark, path) is None
        assert spark.read.parquet(path).schema["ts"].dataType == T.TimestampType()
    finally:
        spark.conf.set(NTZ_CONF, prior)


def test_spark_written_file_falls_back(spark, tmp_path):
    out = str(tmp_path / "sp")
    spark.range(3).write.parquet(out)
    part = next(f for f in os.listdir(out) if f.endswith(".parquet"))
    assert catalog.footer_schema(spark, os.path.join(out, part)) is None
    assert catalog.footer_schema(spark, out) is None  # a directory
    assert catalog.footer_schema(spark, str(tmp_path / "missing.parquet")) is None


def test_int64_ns_events_still_yield_ntz_ts(spark, tmp_path):
    ns = 1_700_000_000_123_456_789
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([ns], pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
    )
    ev = catalog.load_table(spark, str(tmp_path), "events")
    assert ev.schema["ts"].dataType == T.TimestampNTZType()
    expected = datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=ns // 1000
    )
    assert ev.collect()[0].ts == expected


@pytest.fixture
def fresh_fixture_dir(spark, sf_dir, tmp_path):
    """A copy of the fixture under a path no memo has seen; the session's
    own fixture views are re-registered afterwards."""
    copy = tmp_path / "sf"
    shutil.copytree(sf_dir, copy)
    yield str(copy)
    catalog.invalidate_views(spark)
    catalog.register_views(spark, sf_dir)


def test_register_views_runs_no_spark_job(spark, fresh_fixture_dir):
    first = _jobs_run(
        spark, lambda: catalog.register_views(spark, fresh_fixture_dir), "catalog-bind"
    )
    catalog.invalidate_views(spark)
    again = _jobs_run(
        spark, lambda: catalog.register_views(spark, fresh_fixture_dir), "catalog-rebind"
    )
    assert first == [] and again == []
    assert spark.table("orders").schema == spark.read.parquet(
        os.path.join(fresh_fixture_dir, "orders.parquet")
    ).schema


class _AppAlias:
    """``spark`` seen under another application id: stands in for a
    session of an application that has since stopped."""

    def __init__(self, spark, app_id: str) -> None:
        self._spark = spark
        self.sparkContext = types.SimpleNamespace(applicationId=app_id)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def test_memos_hold_only_the_live_application(spark, sf_dir):
    live = spark.sparkContext.applicationId
    catalog.register_views(_AppAlias(spark, "stopped-app"), sf_dir)
    assert {k[0] for k in catalog._TABLE_MEMO} == {"stopped-app"}
    catalog.invalidate_views(spark)
    catalog.register_views(spark, sf_dir)
    assert {k[0] for k in catalog._TABLE_MEMO} == {live}
    assert set(catalog._REGISTERED) == {live}

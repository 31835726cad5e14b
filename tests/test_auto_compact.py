"""Engine handles are plain DataFrames: nothing wraps them, and the caller
places compact() (compaction/compact.py) where it wants it."""

from __future__ import annotations


def test_engine_flag_off_returns_plain_frames(spark, sf_dir):
    from pyspark.sql import DataFrame

    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert isinstance(eng.table("nation"), DataFrame)
    assert isinstance(eng.sql("SELECT 1 AS x"), DataFrame)

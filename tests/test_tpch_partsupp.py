"""Oracle-parity and shape tests for the official-text partsupp queries
(tpch_partsupp.py: derived partsupp + official q2/q11/q16/q20)."""

from __future__ import annotations

import pytest

from tests.oracle_compare import assert_query_matches_oracle


def _names():
    from data_chunk_compaction_in_duckdb_spark.queries import (
        REGISTRY,
        tpch_partsupp,
    )

    return [
        n
        for n, q in REGISTRY.items()
        if q.builder.__module__ == tpch_partsupp.__name__
    ]


@pytest.mark.parametrize("name", _names())
def test_tpch_partsupp_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


def test_partsupp_shape(spark, sf_dir):
    """Derived partsupp has dbgen's shape: exactly 4 rows per part, all
    4 suppliers distinct, availqty/supplycost in dbgen's domains."""
    from data_chunk_compaction_in_duckdb_spark.catalog import load_table
    from data_chunk_compaction_in_duckdb_spark.queries.tpch_partsupp import (
        partsupp_df,
    )
    from pyspark.sql import functions as F

    ps = partsupp_df(spark, sf_dir)
    n_parts = load_table(spark, sf_dir, "part").count()
    per_part = ps.groupBy("ps_partkey").agg(
        F.count("*").alias("n"),
        F.countDistinct("ps_suppkey").alias("nd"),
    )
    bad = per_part.filter((F.col("n") != 4) | (F.col("nd") != 4)).count()
    assert bad == 0
    assert ps.count() == 4 * n_parts
    stats = ps.agg(
        F.min("ps_availqty").alias("qmin"),
        F.max("ps_availqty").alias("qmax"),
        F.min("ps_supplycost").alias("cmin"),
        F.max("ps_supplycost").alias("cmax"),
    ).first()
    assert 1 <= stats.qmin and stats.qmax <= 9999
    assert 0.01 <= stats.cmin and stats.cmax <= 1000.0


def test_official_texts_run_through_engine_sql(spark, sf_dir):
    """The DuckDB-dialect oracle texts of official q2 and q11 (bare
    ``CAST(... AS VARCHAR)``, ``unnest([...])``) run through Engine.sql
    and match DuckDB at sf0.01."""
    import os

    import duckdb

    from data_chunk_compaction_in_duckdb_spark import catalog
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY
    from tests.conftest import TABLES
    from tests.oracle_compare import _cells_equal, normalize

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf01):
        pytest.skip(f"{sf01} not present")
    duck = duckdb.connect()
    try:
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf01}/{t}.parquet')"
            )
        eng = Engine(spark=spark, sf_dir=sf01)
        for name in ("tpch_q2_official", "tpch_q11_official"):
            text = REGISTRY[name].oracle
            sdf = eng.sql(text)
            got = normalize(sdf.columns, [tuple(r) for r in sdf.collect()])
            res = duck.execute(text)
            want = normalize(
                [d[0] for d in res.description], [tuple(r) for r in res.fetchall()]
            )
            assert got and len(got) == len(want), (name, len(got), len(want))
            assert all(map(_cells_equal, got, want)), name
    finally:
        duck.close()
        catalog.register_views(spark, sf_dir)  # rebind the suite's fixture views

"""The DML statement grammar (storage/dmlsql.py) reads quoted column
names, comments and a trailing ``;`` through the one lexical pass, as
DuckDB's parser does."""

from __future__ import annotations

import pytest

from data_chunk_compaction_in_duckdb_spark.engine import Engine
from data_chunk_compaction_in_duckdb_spark.storage.dmlsql import (
    parse_delete,
    parse_insert,
    parse_update,
)

_CASES = [
    # a quoted column name holding a comma or a bracket
    (parse_insert, 'INSERT INTO t ("a,b", c) VALUES (1, 2)',
     ("t", ["a,b", "c"], "VALUES (1, 2)", None)),
    (parse_insert, 'INSERT INTO t ("a)b", c) VALUES (1, 2)',
     ("t", ["a)b", "c"], "VALUES (1, 2)", None)),
    (parse_insert, "INSERT INTO t (a) SELECT 1 ON CONFLICT DO NOTHING;  -- done",
     ("t", ["a"], "SELECT 1", "ignore")),
    (parse_insert, "INSERT OR REPLACE INTO t VALUES (1, ';') /* done */ ;",
     ("t", None, "VALUES (1, ';')", "replace")),
    (parse_insert, "INSERT INTO t (SELECT 1)", None),
    # SET splits at the first = outside quotes
    (parse_update, 'UPDATE t SET "a=b" = 1', ("t", {"a=b": "1"}, None, None)),
    (parse_update, "UPDATE t SET a = 'x=y', b = (c >= 2)",
     ("t", {"a": "'x=y'", "b": "(c >= 2)"}, None, None)),
    # a trailing ; and comment end the statement
    (parse_update, "UPDATE t SET a = 1;  -- done", ("t", {"a": "1"}, None, None)),
    (parse_update, "UPDATE t SET a = 1 WHERE id = 2 ; /* done */",
     ("t", {"a": "1"}, "id = 2", None)),
    (parse_delete, "DELETE FROM t WHERE id = 2;  -- done", ("t", "id = 2", None)),
    (parse_delete, "DELETE FROM t;  -- done", ("t", None, None)),
    (parse_delete, "DELETE FROM t WHERE s = ';'", ("t", "s = ';'", None)),
]


@pytest.mark.parametrize("fn, sql, want", _CASES)
def test_dml_grammar(fn, sql, want):
    assert fn(sql) == want


def test_trailing_comments_through_engine_sql(spark, sf_dir, tmp_path):
    eng = Engine(spark=spark, sf_dir=sf_dir, register=False)
    df = spark.range(4).selectExpr("id AS k", "CAST(id * 10 AS BIGINT) AS v")
    eng.create_versioned_table("cmt", df, str(tmp_path / "cmt"))
    eng.sql("UPDATE cmt SET v = 7;  -- every row")
    eng.sql("DELETE FROM cmt WHERE k = 2;  -- one row")
    eng.sql("INSERT INTO cmt (v, k) VALUES (8, 9);  -- column list reordered")
    rows = sorted(tuple(r) for r in eng.sql("SELECT k, v FROM cmt").collect())
    assert rows == [(0, 7), (1, 7), (3, 7), (9, 8)]
    eng.sql("DELETE FROM cmt;  -- the rest")
    assert eng.sql("SELECT count(*) AS n FROM cmt").collect()[0]["n"] == 0

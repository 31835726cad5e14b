"""The statement router: ``dialect.classify_statement`` gives each
statement one kind, and ``Engine.sql`` hands it to exactly that kind's
handler.  Pure Python — the engine runs over a stand-in session that
records the text it is asked to run, so no SparkSession starts."""

from __future__ import annotations

import pytest

from data_chunk_compaction_in_duckdb_spark.dialect import classify_statement
from data_chunk_compaction_in_duckdb_spark.engine import Engine

# (statement, kind): one per kind, then the edge cases
CASES = [
    ("BEGIN TRANSACTION", "txn"),
    ("INSERT INTO t VALUES (1)", "dml"),
    ("PREPARE q AS SELECT $1", "prepared"),
    ("CREATE VIEW v AS SELECT 1", "catalog_ddl"),
    ("DROP SCHEMA IF EXISTS s", "catalog_ddl"),
    ("CREATE OR REPLACE SEQUENCE s START 5", "sequence_ddl"),
    ("CREATE UNIQUE INDEX i ON t(a)", "table_ddl"),
    ("EXPLAIN SELECT 1", "explain"),
    ("CHECKPOINT", "maintenance"),
    ("SUMMARIZE orders", "introspection"),
    ("RESET threads", "settings"),
    ("SELECT 1", "query"),
    # lowercase, leading whitespace, a leading comment
    ("delete from t where k = 1", "dml"),
    ("  \n\t commit", "txn"),
    ("-- drop the old rows\nDELETE FROM t", "dml"),
    ("/* block */ show tables", "introspection"),
    # a keyword inside a string literal is data
    ("SELECT 'DELETE FROM t'", "query"),
    ("WITH a AS (SELECT 1 AS x) SELECT x FROM a", "query"),
    ("(SELECT 1) UNION ALL (SELECT 2)", "query"),
    ("EXECUTE IMMEDIATE 'SELECT 1'", "prepared"),
    ("SET spark.sql.shuffle.partitions = 4", "settings"),
    # CREATE of an object the engine does not own is Spark's
    ("CREATE TEMP VIEW v AS SELECT 1", "query"),
    ("DESCRIBE TABLE x", "introspection"),
]

# statements whose kind's grammar does not match: spark.sql sees them
FALL_THROUGH = [
    "SET spark.sql.shuffle.partitions = 4",
    "EXECUTE IMMEDIATE 'SELECT 1'",
    "CREATE TEMP VIEW v AS SELECT 1",
    "DESCRIBE TABLE x",
    "SHOW FUNCTIONS",
]


class _Conf:
    def get(self, key: str) -> str:
        return {
            "spark.sql.shuffle.partitions": "4",
            "spark.sql.session.timeZone": "UTC",
        }[key]


class _Session:
    """Records ``sql`` calls instead of running them."""

    def __init__(self) -> None:
        self.conf = _Conf()
        self.statements: list[str] = []

    def sql(self, text: str, args=None):
        self.statements.append(text)
        return text


def _engine() -> Engine:
    return Engine(spark=_Session(), register=False)


@pytest.mark.parametrize("sql,kind", CASES)
def test_classify_statement(sql, kind):
    assert classify_statement(sql) == kind


@pytest.mark.parametrize("sql,kind", CASES)
def test_router_calls_exactly_one_handler(sql, kind):
    eng = _engine()
    calls: list[str] = []
    for k, method in Engine._HANDLERS.items():
        setattr(eng, method, lambda q, a, p, k=k: calls.append(k))
    eng._query = lambda q, a, p: calls.append("query")
    eng.begin = eng.commit_txn = eng.rollback = lambda: calls.append("txn")
    eng.sql(sql)
    # kinds without an engine handler (table_ddl) are queries for Spark
    expected = kind if kind in Engine._HANDLERS or kind == "txn" else "query"
    assert calls == [expected]


@pytest.mark.parametrize("sql", FALL_THROUGH)
def test_unmatched_grammar_falls_through_to_spark(sql):
    eng = _engine()
    assert eng.sql(sql) == sql
    assert eng.spark.statements == [sql]


@pytest.mark.parametrize(
    "sql", ["PREPARE q AS SELECT 1", "SET threads = 2", "EXPLAIN SELECT 1"]
)
def test_aborted_transaction_refuses_all_but_txn(sql):
    eng = _engine()
    eng.sql("BEGIN")
    eng._txn.aborted = True
    with pytest.raises(
        RuntimeError,
        match=r"^TransactionContext Error: Current transaction is aborted "
        r"\(please ROLLBACK\)$",
    ):
        eng.sql(sql)
    assert eng.spark.statements == []
    eng.sql("ROLLBACK")
    assert eng._txn is None

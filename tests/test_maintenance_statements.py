"""VACUUM / EXPORT DATABASE / IMPORT DATABASE statement dispatch
(reference test/sql/vacuum/, physical_export.cpp:215): the statements
ride the existing versioned.vacuum / sources.summary export APIs
through Engine.sql."""

from __future__ import annotations

import os

import pytest

from data_chunk_compaction_in_duckdb_spark.engine import Engine


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    e = Engine(spark=spark, sf_dir=sf_dir, register=False)
    df = spark.range(6).selectExpr("id AS k", "CAST(id * 7 AS BIGINT) AS v")
    e.create_versioned_table("mnt", df, str(tmp_path / "mnt"))
    return e


def test_vacuum_sweeps_unreferenced_files(eng, tmp_path):
    vt = eng._versioned["mnt"]
    eng.sql("UPDATE mnt SET v = v + 1 WHERE k = 2")
    eng.sql("UPDATE mnt SET v = v + 1 WHERE k = 3")
    import glob

    before = len(glob.glob(str(tmp_path / "mnt" / "data" / "*" / "*.parquet")))
    eng.sql("VACUUM")
    after = len(glob.glob(str(tmp_path / "mnt" / "data" / "*" / "*.parquet")))
    assert after <= before
    # live state intact, history truncated to the retained tail
    assert vt.read().count() == 6
    assert eng.sql("SELECT CAST(sum(v) AS BIGINT) AS s FROM mnt").collect()[
        0
    ]["s"] == sum(i * 7 for i in range(6)) + 2


def test_vacuum_inside_transaction_is_noop(eng):
    # probed: DuckDB accepts VACUUM inside an open transaction
    eng.sql("BEGIN")
    eng.sql("INSERT INTO mnt VALUES (100, 1)")
    eng.sql("VACUUM")
    eng.sql("VACUUM ANALYZE")
    eng.sql("ROLLBACK")
    assert eng.sql("SELECT count(*) AS c FROM mnt").collect()[0]["c"] == 6


def test_update_comments_are_not_clause_text(eng):
    """A comma or a WHERE inside an UPDATE's comment is comment text,
    never SET-list or clause syntax."""
    eng.sql("UPDATE mnt SET v = 1 /* x, y */ WHERE k = 1")
    eng.sql("UPDATE mnt SET v = 2 -- no where here\n WHERE k = 2")
    rows = {r["k"]: r["v"] for r in eng.sql("SELECT k, v FROM mnt").collect()}
    assert rows == {0: 0, 1: 1, 2: 2, 3: 21, 4: 28, 5: 35}


def test_export_import_roundtrip_parquet(eng, spark, tmp_path):
    d = str(tmp_path / "exp1")
    eng.sql(f"EXPORT DATABASE '{d}'")
    assert os.path.exists(os.path.join(d, "schema.sql"))
    assert "CREATE TABLE mnt" in open(os.path.join(d, "schema.sql")).read()
    e2 = Engine(spark=spark, register=False)
    e2.sql(f"IMPORT DATABASE '{d}'")
    got = {
        (r["k"], r["v"])
        for r in e2.sql("SELECT k, v FROM mnt").collect()
    }
    assert got == {(i, i * 7) for i in range(6)}


def test_export_import_roundtrip_csv(eng, spark, tmp_path):
    d = str(tmp_path / "exp2")
    eng.sql(f"EXPORT DATABASE '{d}' (FORMAT csv)")
    e2 = Engine(spark=spark, register=False)
    e2.sql(f"IMPORT DATABASE '{d}'")
    got = {
        (r["k"], r["v"])
        for r in e2.sql("SELECT k, v FROM mnt").collect()
    }
    assert got == {(i, i * 7) for i in range(6)}


def test_vacuum_statement_preserves_history(eng):
    """Review-r9 regression: SQL VACUUM sweeps ORPHANS only — DuckDB's
    VACUUM never destroys history, so time travel must survive."""
    vt = eng._versioned["mnt"]
    eng.sql("UPDATE mnt SET v = v + 1 WHERE k = 2")
    assert vt.latest_version() == 1
    eng.sql("VACUUM")
    # every historical version still reads
    assert vt.read(0).count() == 6
    assert vt.read(1).count() == 6
    assert vt._manifest(0)["op"] == "create"


def test_dml_accepts_dialect_expression_grammar(eng, spark):
    """Review-r9 regression: DuckDB expression grammar works inside
    DML statements, not just SELECTs (the rewrite runs before the DML
    dispatch)."""
    eng.sql("UPDATE mnt SET v = v // 2 WHERE k = 4")
    assert eng.sql("SELECT v FROM mnt WHERE k = 4").collect()[0]["v"] == 14
    eng.sql("INSERT INTO mnt VALUES (50, [7, 8][2])")
    assert eng.sql("SELECT v FROM mnt WHERE k = 50").collect()[0]["v"] == 8
    eng.sql("DELETE FROM mnt WHERE CAST(k AS STRING) SIMILAR TO '5.'")
    assert eng.sql("SELECT count(*) AS c FROM mnt").collect()[0]["c"] == 6

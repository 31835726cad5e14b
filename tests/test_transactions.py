"""SQL transaction statements over the versioned store (reference
src/transaction/transaction_context.cpp, test/sql/transactions/):
BEGIN/COMMIT/ROLLBACK/ABORT through Engine.sql, staged multi-statement
atomicity, DuckDB's probed error shapes and abort semantics, and the
optimistic write-write conflict."""

from __future__ import annotations

import pytest

from data_chunk_compaction_in_duckdb_spark.engine import Engine
from data_chunk_compaction_in_duckdb_spark.storage import (
    CommitConflictError,
    ConstraintViolation,
)
from data_chunk_compaction_in_duckdb_spark.storage.transaction import (
    TransactionAborted,
)


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    e = Engine(spark=spark, sf_dir=sf_dir, register=False)
    df = spark.range(10).selectExpr(
        "id AS k", "CAST(id * 10 AS BIGINT) AS v"
    )
    e.create_versioned_table("txt", df, str(tmp_path / "txt"))
    return e


def _count(eng):
    return eng.sql("SELECT count(*) AS c FROM txt").collect()[0]["c"]


def _sum_v(eng):
    return eng.sql("SELECT sum(v) AS s FROM txt").collect()[0]["s"]


def test_rollback_discards_all_statements(eng):
    assert _count(eng) == 10
    eng.sql("BEGIN")
    eng.sql("INSERT INTO txt VALUES (100, 1000), (101, 1010)")
    eng.sql("DELETE FROM txt WHERE k < 3")
    eng.sql("UPDATE txt SET v = v + 1 WHERE k = 5")
    assert _count(eng) == 9  # read-your-own-writes inside the txn
    eng.sql("ROLLBACK")
    assert _count(eng) == 10
    assert _sum_v(eng) == sum(i * 10 for i in range(10))
    # no new version was ever committed
    assert eng._versioned["txt"].latest_version() == 0


def test_commit_is_one_manifest_version(eng):
    vt = eng._versioned["txt"]
    eng.sql("BEGIN TRANSACTION")
    eng.sql("INSERT INTO txt VALUES (100, 1000)")
    eng.sql("UPDATE txt SET v = 0 WHERE k = 1")
    eng.sql("DELETE FROM txt WHERE k = 2")
    eng.sql("COMMIT")
    assert vt.latest_version() == 1  # three statements, ONE commit
    assert vt._manifest(1)["op"] == "txn"
    assert _count(eng) == 10  # 10 + 1 - 1
    assert _sum_v(eng) == sum(i * 10 for i in range(10)) - 10 - 20 + 1000


def test_start_transaction_and_abort_aliases(eng):
    eng.sql("START TRANSACTION")
    eng.sql("INSERT INTO txt VALUES (7, 70)")
    eng.sql("ABORT")
    assert _count(eng) == 10


def test_untouched_files_carried_by_reference(spark, tmp_path):
    eng = Engine(spark=spark, register=False)
    df = spark.range(1000).selectExpr("id AS k", "id * 2 AS v").repartition(8)
    vt = eng.create_versioned_table("cart", df, str(tmp_path / "cart"))
    base_files = set(vt._manifest(0)["files"])
    eng.sql("BEGIN")
    eng.sql("DELETE FROM cart WHERE k = 5")
    eng.sql("COMMIT")
    committed = set(vt._manifest(1)["files"])
    # most base files move by reference; only the file holding k=5 is
    # rewritten
    assert len(base_files & committed) >= len(base_files) - 1
    assert committed != base_files


def test_error_shapes_match_duckdb(eng):
    with pytest.raises(ValueError, match="cannot commit - no transaction"):
        eng.sql("COMMIT")
    with pytest.raises(ValueError, match="cannot rollback - no transaction"):
        eng.sql("ROLLBACK")
    with pytest.raises(ValueError, match="cannot rollback - no transaction"):
        eng.sql("ABORT")
    eng.sql("BEGIN")
    with pytest.raises(
        ValueError, match="cannot start a transaction within a transaction"
    ):
        eng.sql("BEGIN")
    eng.sql("ROLLBACK")


def test_constraint_violation_aborts_transaction(spark, tmp_path):
    eng = Engine(spark=spark, register=False)
    df = spark.range(5).selectExpr("id AS k", "CAST(id AS BIGINT) AS v")
    eng.create_versioned_table(
        "pkt",
        df,
        str(tmp_path / "pkt"),
        constraints=[{"type": "primary_key", "columns": ["k"]}],
    )
    eng.sql("BEGIN")
    eng.sql("INSERT INTO pkt VALUES (100, 1)")
    with pytest.raises(ConstraintViolation):
        eng.sql("INSERT INTO pkt VALUES (3, 9)")  # dup key, staged 100 ok
    # probed DuckDB: every later statement fails with the aborted error
    with pytest.raises(TransactionAborted, match="please ROLLBACK"):
        eng.sql("INSERT INTO pkt VALUES (200, 2)")
    with pytest.raises(TransactionAborted):
        eng.sql("SELECT count(*) FROM pkt")
    # probed DuckDB: COMMIT of an aborted transaction silently rolls back
    eng.sql("COMMIT")
    assert (
        eng.sql("SELECT count(*) AS c FROM pkt").collect()[0]["c"] == 5
    )
    assert eng._versioned["pkt"].latest_version() == 0


def test_write_write_conflict(spark, tmp_path):
    e1 = Engine(spark=spark, register=False)
    df = spark.range(10).selectExpr("id AS k", "id AS v")
    vt = e1.create_versioned_table("cft", df, str(tmp_path / "cft"))
    e2 = Engine(spark=spark, register=False)
    e2._versioned = {"cft": type(vt)(spark, vt.path)}
    e1.sql("BEGIN")
    e1.sql("INSERT INTO cft VALUES (100, 100)")
    e2.sql("BEGIN")
    e2.sql("INSERT INTO cft VALUES (200, 200)")
    e1.sql("COMMIT")  # first committer wins
    with pytest.raises(CommitConflictError):
        e2.sql("COMMIT")
    # loser retries on fresh state and succeeds
    e2.sql("BEGIN")
    e2.sql("INSERT INTO cft VALUES (200, 200)")
    e2.sql("COMMIT")
    assert vt.read().count() == 12


def test_snapshot_isolation_other_reader(eng, spark):
    vt = eng._versioned["txt"]
    eng.sql("BEGIN")
    eng.sql("DELETE FROM txt WHERE k >= 5")
    # an independent reader resolving the committed store sees base state
    assert vt.read(0).count() == 10
    eng.sql("COMMIT")
    assert vt.read().count() == 5


def test_update_set_list_parsing(eng):
    eng.sql("BEGIN")
    eng.sql(
        "UPDATE txt SET v = v * 2 + length('a,b'), k = k WHERE k IN (1, 2)"
    )
    eng.sql("COMMIT")
    rows = {
        r["k"]: r["v"]
        for r in eng.sql("SELECT k, v FROM txt").collect()
    }
    assert rows[1] == 23 and rows[2] == 43 and rows[3] == 30


def test_dml_on_unknown_table_errors(eng):
    with pytest.raises(ValueError, match="Catalog Error"):
        eng.sql("INSERT INTO nosuch VALUES (1)")
    # and it does NOT abort an open transaction (binder-stage error)
    eng.sql("BEGIN")
    with pytest.raises(ValueError, match="Catalog Error"):
        eng.sql("DELETE FROM nosuch")
    eng.sql("INSERT INTO txt VALUES (500, 1)")
    eng.sql("ROLLBACK")
    assert _count(eng) == 10


def test_insert_column_list_fills_null(eng):
    eng.sql("INSERT INTO txt (k) VALUES (900)")
    row = eng.sql("SELECT v FROM txt WHERE k = 900").collect()
    assert len(row) == 1 and row[0]["v"] is None
    with pytest.raises(ValueError, match="Binder Error"):
        eng.sql("INSERT INTO txt (nosuch) VALUES (1)")


def test_view_and_schema_ddl_roll_back(eng):
    eng.sql("BEGIN")
    eng.sql("CREATE VIEW txn_vw AS SELECT k FROM txt WHERE (k > 5)")
    eng.sql("CREATE SCHEMA txn_sch")
    assert eng.duckdb_views().filter("view_name = 'txn_vw'").count() == 1
    eng.sql("ROLLBACK")
    assert eng.duckdb_views().filter("view_name = 'txn_vw'").count() == 0
    assert (
        eng.duckdb_schemas().filter("schema_name = 'txn_sch'").count() == 0
    )
    with pytest.raises(Exception):
        eng.sql("SELECT count(*) FROM txn_vw").collect()
    # committed DDL persists
    eng.sql("BEGIN")
    eng.sql("CREATE VIEW txn_vw2 AS SELECT k FROM txt")
    eng.sql("COMMIT")
    assert eng.duckdb_views().filter("view_name = 'txn_vw2'").count() == 1


def test_insert_or_replace_and_ignore(eng):
    # no PK on txt -> probed DuckDB binder error
    with pytest.raises(ValueError, match="no UNIQUE/PRIMARY KEY"):
        eng.sql("INSERT OR REPLACE INTO txt VALUES (1, 2)")


def test_insert_or_replace_on_pk_table(spark, tmp_path):
    eng = Engine(spark=spark, register=False)
    df = spark.range(5).selectExpr("id AS k", "id * 10 AS v")
    vt = eng.create_versioned_table(
        "iot", df, str(tmp_path / "iot"),
        constraints=[{"type": "primary_key", "columns": ["k"]}],
    )
    eng.sql("INSERT OR REPLACE INTO iot VALUES (2, 222), (9, 999)")
    rows = {r["k"]: r["v"] for r in eng.sql("SELECT * FROM iot").collect()}
    assert rows[2] == 222 and rows[9] == 999 and rows[3] == 30
    assert vt._manifest(vt.latest_version())["op"] == "merge"
    eng.sql("INSERT OR IGNORE INTO iot VALUES (3, 0), (10, 100)")
    rows = {r["k"]: r["v"] for r in eng.sql("SELECT * FROM iot").collect()}
    assert rows[3] == 30 and rows[10] == 100
    eng.sql("INSERT INTO iot VALUES (3, 7) ON CONFLICT DO NOTHING")
    rows = {r["k"]: r["v"] for r in eng.sql("SELECT * FROM iot").collect()}
    assert rows[3] == 30 and len(rows) == 7
    # transactional upsert rolls back
    eng.sql("BEGIN")
    eng.sql("INSERT OR REPLACE INTO iot VALUES (2, -1)")
    assert (
        eng.sql("SELECT v FROM iot WHERE k = 2").collect()[0]["v"] == -1
    )
    eng.sql("ROLLBACK")
    assert (
        eng.sql("SELECT v FROM iot WHERE k = 2").collect()[0]["v"] == 222
    )


def test_truncate(eng):
    vt = eng._versioned["txt"]
    eng.sql("TRUNCATE txt")
    assert _count(eng) == 0
    # the emptied files leave the manifest; time travel is unchanged
    assert vt._manifest(vt.latest_version())["files"] == []
    assert vt.read(0).count() == 10
    assert vt.read().columns == ["k", "v"]
    eng.sql("INSERT INTO txt VALUES (1, 10)")
    assert _count(eng) == 1
    with pytest.raises(ValueError, match="Catalog Error"):
        eng.sql("TRUNCATE nosuch_t")
    # transactional truncate rolls back
    eng.sql("BEGIN")
    eng.sql("TRUNCATE TABLE txt")
    assert _count(eng) == 0
    eng.sql("ROLLBACK")
    assert _count(eng) == 1


# --- round-9: simultaneous SET semantics + read-only MVCC participants


def test_update_swap_simultaneous(eng):
    """UPDATE t SET a=b, b=a swaps — every RHS binds to the PRE-update
    row (DuckDB probed: (1,10) -> (10,1); reference
    physical_update.cpp:187 evaluates all expressions on the scan)."""
    eng.sql("UPDATE txt SET k = v, v = k WHERE k = 1")
    row = eng.sql("SELECT k, v FROM txt WHERE v = 1").collect()
    assert [(r["k"], r["v"]) for r in row] == [(10, 1)]


def test_update_swap_in_transaction(eng):
    eng.sql("BEGIN")
    eng.sql("UPDATE txt SET k = v, v = k WHERE k = 2")
    rows = {
        (r["k"], r["v"])
        for r in eng.sql("SELECT k, v FROM txt").collect()
    }
    assert (20, 2) in rows and (2, 20) not in rows
    eng.sql("COMMIT")
    rows = {
        (r["k"], r["v"])
        for r in eng.sql("SELECT k, v FROM txt").collect()
    }
    assert (20, 2) in rows


def test_update_from_swap(spark, tmp_path):
    eng = Engine(spark=spark, register=False)
    df = spark.range(5).selectExpr("id AS k", "CAST(id * 10 AS BIGINT) AS v")
    eng.create_versioned_table("ufs", df, str(tmp_path / "ufs"))
    src = spark.range(5).selectExpr("id AS sk")
    src.createOrReplaceTempView("ufs_src")
    eng.sql(
        "UPDATE ufs SET k = v, v = k FROM ufs_src WHERE ufs.k = ufs_src.sk"
    )
    rows = {(r["k"], r["v"]) for r in eng.sql("SELECT * FROM ufs").collect()}
    assert rows == {(i * 10, i) for i in range(5)}


def test_read_only_table_commits_no_version(spark, tmp_path):
    """A table only read inside a transaction publishes no version and
    never conflicts with a concurrent writer (reference: MVCC read-only
    participants skip the commit lock, transaction_manager.cpp)."""
    e1 = Engine(spark=spark, register=False)
    ro = e1.create_versioned_table(
        "rot", spark.range(3).selectExpr("id AS k", "id AS v"),
        str(tmp_path / "rot"),
    )
    wr = e1.create_versioned_table(
        "wrt", spark.range(3).selectExpr("id AS k", "id AS v"),
        str(tmp_path / "wrt"),
    )
    e2 = Engine(spark=spark, register=False)
    e2._versioned = {"rot": type(ro)(spark, ro.path)}
    e1.sql("BEGIN")
    assert e1.sql("SELECT count(*) AS c FROM rot").collect()[0]["c"] == 3
    e1.sql("INSERT INTO wrt VALUES (9, 9)")
    # a concurrent writer bumps rot mid-transaction
    e2.sql("INSERT INTO rot VALUES (100, 100)")
    e1.sql("COMMIT")  # must NOT conflict: rot was only read
    assert ro.latest_version() == 1  # only e2's write, no spurious bump
    assert wr.latest_version() == 1
    assert type(ro)(spark, ro.path).read().count() == 4


def test_noop_dml_commits_no_version(eng):
    vt = eng._versioned["txt"]
    eng.sql("BEGIN")
    eng.sql("DELETE FROM txt WHERE k = 99999")  # matches nothing
    eng.sql("COMMIT")
    assert vt.latest_version() == 0


# --- round-9: atomic multi-table COMMIT via the root transaction log


def _mk_two_table_engine(spark, tmp_path, tag):
    eng = Engine(spark=spark, register=False)
    for t in ("ta", "tb"):
        eng.create_versioned_table(
            f"{t}_{tag}",
            spark.range(4).selectExpr("id AS k", "id AS v"),
            str(tmp_path / f"{t}_{tag}"),
        )
    eng.enable_atomic_commit(str(tmp_path / f"root_{tag}"))
    return eng


def test_atomic_commit_two_tables_one_root_record(spark, tmp_path):
    eng = _mk_two_table_engine(spark, tmp_path, "a1")
    assert eng.snapshot_versions() == {}
    eng.sql("BEGIN")
    eng.sql("INSERT INTO ta_a1 VALUES (100, 100)")
    eng.sql("DELETE FROM tb_a1 WHERE k = 0")
    eng.sql("COMMIT")
    # ONE root record carries both tables' new versions atomically
    snap = eng.snapshot_versions()
    assert snap == {"ta_a1": 1, "tb_a1": 1}
    assert eng._versioned["ta_a1"].read().count() == 5
    assert eng._versioned["tb_a1"].read().count() == 3


def test_atomic_commit_no_partial_visibility(spark, tmp_path):
    """The judge-specified invariant: no root-log reader ever observes
    table A's post-commit version with table B's pre-commit one.  The
    snapshot is ONE file read, so the invariant is structural; this
    pins it across a sequence of multi-table commits."""
    eng = _mk_two_table_engine(spark, tmp_path, "a2")
    from data_chunk_compaction_in_duckdb_spark.storage.txnlog import RootLog

    reader = RootLog(str(tmp_path / "root_a2"))
    for i in range(3):
        eng.sql("BEGIN")
        eng.sql(f"INSERT INTO ta_a2 VALUES ({100 + i}, 0)")
        eng.sql(f"INSERT INTO tb_a2 VALUES ({100 + i}, 0)")
        eng.sql("COMMIT")
        snap = reader.snapshot()
        # both tables always move in lockstep — never a partial commit
        assert snap["ta_a2"] == snap["tb_a2"] == i + 1


def test_atomic_commit_conflict_publishes_nothing(spark, tmp_path):
    e1 = _mk_two_table_engine(spark, tmp_path, "a3")
    vt_a = e1._versioned["ta_a3"]
    vt_b = e1._versioned["tb_a3"]
    e2 = Engine(spark=spark, register=False)
    e2._versioned = {"ta_a3": type(vt_a)(spark, vt_a.path)}
    e2.enable_atomic_commit(str(tmp_path / "root_a3"))
    e1.sql("BEGIN")
    e1.sql("INSERT INTO ta_a3 VALUES (100, 100)")
    e1.sql("INSERT INTO tb_a3 VALUES (100, 100)")
    # e2 wins the race on ta through the SAME root log
    e2.sql("BEGIN")
    e2.sql("INSERT INTO ta_a3 VALUES (200, 200)")
    e2.sql("COMMIT")
    with pytest.raises(CommitConflictError):
        e1.sql("COMMIT")
    # the loser published NOTHING: no manifest for EITHER table, no root
    assert vt_a.latest_version() == 1  # only e2's commit
    assert vt_b.latest_version() == 0
    snap = e1.snapshot_versions()
    assert snap == {"ta_a3": 1}
    assert vt_b.read().count() == 4


def test_atomic_commit_disjoint_writers_both_land(spark, tmp_path):
    e1 = _mk_two_table_engine(spark, tmp_path, "a4")
    vt_b = e1._versioned["tb_a4"]
    e2 = Engine(spark=spark, register=False)
    e2._versioned = {"tb_a4": type(vt_b)(spark, vt_b.path)}
    e2.enable_atomic_commit(str(tmp_path / "root_a4"))
    e1.sql("BEGIN")
    e1.sql("INSERT INTO ta_a4 VALUES (100, 100)")
    e2.sql("BEGIN")
    e2.sql("INSERT INTO tb_a4 VALUES (200, 200)")
    e1.sql("COMMIT")
    e2.sql("COMMIT")  # disjoint tables: seq race retries, NOT a conflict
    snap = e1.snapshot_versions()
    assert snap == {"ta_a4": 1, "tb_a4": 1}


def test_atomic_commit_crash_recovery_replays_manifests(spark, tmp_path):
    """A crash between the root-record link and the per-table manifest
    links is healed by RootLog.recover() — the record embeds the
    manifests (write-ahead), so the commit survives."""
    import os

    from data_chunk_compaction_in_duckdb_spark.storage.transaction import (
        Transaction,
    )
    from data_chunk_compaction_in_duckdb_spark.storage.txnlog import RootLog

    eng = _mk_two_table_engine(spark, tmp_path, "a5")
    vt_a = eng._versioned["ta_a5"]
    vt_b = eng._versioned["tb_a5"]
    log = eng._root_log
    txn = Transaction()
    txn.insert(
        "ta_a5", vt_a, spark.range(1).selectExpr("id + 50 AS k", "id AS v")
    )
    txn.insert(
        "tb_a5", vt_b, spark.range(1).selectExpr("id + 60 AS k", "id AS v")
    )
    # simulate the crash: prepare + root link, but NO manifest links
    updates = {
        n: (st.vt, st.base, st.prepare()) for n, st in txn._staged.items()
    }
    log.append(updates)
    assert vt_a.latest_version() == 0  # manifests not yet linked
    # a fresh open of the root log replays phase 3
    healed = RootLog(log.path).recover()  # __init__ already recovers
    assert healed == [] or set(healed) <= {"ta_a5", "tb_a5"}
    assert vt_a.latest_version() == 1
    assert vt_b.latest_version() == 1
    assert vt_a.read().filter("k = 50").count() == 1


def test_autocommit_dml_keeps_root_log_current(spark, tmp_path):
    """Review-r9 regression: an AUTOCOMMIT statement between root-log
    transactions must neither poison later COMMITs with false conflicts
    nor leave snapshot_versions() stale."""
    eng = _mk_two_table_engine(spark, tmp_path, "a6")
    eng.sql("BEGIN")
    eng.sql("INSERT INTO ta_a6 VALUES (100, 100)")
    eng.sql("COMMIT")
    assert eng.snapshot_versions()["ta_a6"] == 1
    # autocommit writes advance the table outside any transaction
    eng.sql("INSERT INTO ta_a6 VALUES (200, 200)")
    eng.sql("DELETE FROM ta_a6 WHERE k = 0")
    eng.sql("TRUNCATE tb_a6")
    snap = eng.snapshot_versions()
    assert snap["ta_a6"] == 3 and snap["tb_a6"] == 1  # note() kept it fresh
    # a later transaction must commit cleanly (no false conflict)
    eng.sql("BEGIN")
    eng.sql("INSERT INTO ta_a6 VALUES (300, 300)")
    eng.sql("INSERT INTO tb_a6 VALUES (300, 300)")
    eng.sql("COMMIT")
    snap = eng.snapshot_versions()
    assert snap["ta_a6"] == 4 and snap["tb_a6"] == 2
    assert eng.sql("SELECT k FROM tb_a6").collect() == [(300,)]


# --- one DML algorithm: autocommit is a one-statement transaction

_PARITY = {
    "insert": "INSERT INTO {t} VALUES (100, 1000), (101, 1010)",
    "insert_or_replace": "INSERT OR REPLACE INTO {t} VALUES (2, 222), (9, 999)",
    "insert_or_ignore": "INSERT OR IGNORE INTO {t} VALUES (3, 0), (10, 100)",
    "delete": "DELETE FROM {t} WHERE k < 3",
    "delete_using": "DELETE FROM {t} USING par_src WHERE {t}.k = par_src.sk",
    "update": "UPDATE {t} SET v = v + 1 WHERE k % 2 = 0",
    "update_from": (
        "UPDATE {t} SET v = par_src.w FROM par_src WHERE {t}.k = par_src.sk"
    ),
    "truncate": "TRUNCATE {t}",
}


@pytest.mark.parametrize("stmt", sorted(_PARITY))
def test_autocommit_matches_transaction(spark, tmp_path, stmt):
    """Each statement gives the same rows autocommit and inside
    BEGIN..COMMIT (on a twin table), and each adds exactly one
    version."""
    eng = Engine(spark=spark, register=False)
    df = spark.range(8).selectExpr("id AS k", "id * 10 AS v")
    pk = [{"type": "primary_key", "columns": ["k"]}]
    for t in ("par_auto", "par_txn"):
        eng.create_versioned_table(t, df, str(tmp_path / t), constraints=pk)
    spark.createDataFrame(
        [(1, -1), (4, -4), (6, -6)], "sk BIGINT, w BIGINT"
    ).createOrReplaceTempView("par_src")

    def rows(t):
        return sorted(
            tuple(r) for r in eng.sql(f"SELECT k, v FROM {t}").collect()
        )

    before = rows("par_auto")
    eng.sql(_PARITY[stmt].format(t="par_auto"))
    eng.sql("BEGIN")
    eng.sql(_PARITY[stmt].format(t="par_txn"))
    eng.sql("COMMIT")
    assert rows("par_auto") == rows("par_txn") != before
    for t in ("par_auto", "par_txn"):
        assert eng._versioned[t].latest_version() == 1


def test_update_from_key_collision_rejected(spark, tmp_path):
    """UPDATE ... FROM that assigns a primary key checks the post-state
    for duplicates, as UPDATE ... WHERE does (DuckDB raises a
    constraint error)."""
    eng = Engine(spark=spark, register=False)
    vt = eng.create_versioned_table(
        "ufk", spark.range(4).selectExpr("id AS k", "id AS v"),
        str(tmp_path / "ufk"),
        constraints=[{"type": "primary_key", "columns": ["k"]}],
    )
    spark.createDataFrame([(1, 2)], "sk BIGINT, nk BIGINT") \
        .createOrReplaceTempView("ufk_src")
    with pytest.raises(ConstraintViolation, match="PRIMARY KEY"):
        eng.sql("UPDATE ufk SET k = ufk_src.nk FROM ufk_src "
                "WHERE ufk.k = ufk_src.sk")
    assert vt.latest_version() == 0


def _random_dml(rng, fresh, live: list[int], in_txn: bool) -> str:
    """One random DML statement on ``dtab(k, v)`` / ``dsrc(sk, w)`` in
    text both engines run; ``live`` is the table's committed keys.
    INSERT keys are fresh; OR REPLACE runs autocommit only, so no key
    is deleted and re-inserted inside one transaction (DuckDB 1.0's
    over-eager unique check rejects that)."""
    kinds = ["insert", "update", "update", "delete", "delete_using",
             "update_from"]
    kind = rng.choice(kinds if in_txn else [*kinds, "replace", "replace"])
    if kind == "insert":
        vals = ", ".join(
            f"({next(fresh)}, {rng.randint(0, 500)})"
            for _ in range(rng.randint(1, 3))
        )
        return f"INSERT INTO dtab VALUES {vals}"
    if kind == "replace":
        return (
            f"INSERT OR REPLACE INTO dtab VALUES ({rng.choice(live)}, "
            f"{rng.randint(0, 500)}), ({next(fresh)}, {rng.randint(0, 500)})"
        )
    if kind == "update":
        expr = rng.choice(["v + 7", "v * 3 % 1000", "k + v % 11"])
        pred = rng.choice(
            ["k % 4 = 1", "v > 300", "k BETWEEN 5 AND 12", "v % 3 = 0"]
        )
        return f"UPDATE dtab SET v = {expr} WHERE {pred}"
    if kind == "delete":
        pred = rng.choice(
            ["k % 7 = 3", "v BETWEEN 100 AND 160",
             f"k = {rng.choice(live)}"]
        )
        return f"DELETE FROM dtab WHERE {pred}"
    if kind == "delete_using":
        return (
            "DELETE FROM dtab USING dsrc WHERE dtab.k = dsrc.sk "
            f"AND dsrc.w < {rng.randint(-40, -10)}"
        )
    return "UPDATE dtab SET v = v + dsrc.w FROM dsrc WHERE dtab.k = dsrc.sk"


@pytest.mark.slow
def test_dml_differential_vs_duckdb(spark, tmp_path):
    """Seeded random INSERT / UPDATE / DELETE (with USING, FROM and OR
    REPLACE forms), some autocommit and some grouped in BEGIN..COMMIT
    or ROLLBACK, replayed as the same text in DuckDB; the sorted rows
    must agree after every group."""
    import itertools
    import random

    import duckdb

    rng = random.Random(1313)
    fresh = itertools.count(1000)
    src = sorted(  # unique source keys, over old and fresh target keys
        {
            rng.choice([rng.randrange(20), rng.randrange(1000, 1030)]):
            rng.randint(-50, -1)
            for _ in range(14)
        }.items()
    )
    eng = Engine(spark=spark, register=False)
    eng.create_versioned_table(
        "dtab", spark.range(20).selectExpr("id AS k", "id * 10 AS v"),
        str(tmp_path / "dtab"),
        constraints=[{"type": "primary_key", "columns": ["k"]}],
    )
    spark.createDataFrame(src, "sk BIGINT, w BIGINT") \
        .createOrReplaceTempView("dsrc")
    con = duckdb.connect()
    con.execute("CREATE TABLE dtab (k BIGINT PRIMARY KEY, v BIGINT)")
    con.execute("INSERT INTO dtab SELECT range, range * 10 FROM range(20)")
    con.execute("CREATE TABLE dsrc (sk BIGINT, w BIGINT)")
    con.executemany("INSERT INTO dsrc VALUES (?, ?)", src)
    n_stmts = 0
    while n_stmts < 40:
        live = [k for (k,) in con.execute("SELECT k FROM dtab ORDER BY k")
                .fetchall()]
        if rng.random() < 0.6:
            group = [_random_dml(rng, fresh, live, in_txn=False)]
        else:
            group = [
                "BEGIN",
                *[_random_dml(rng, fresh, live, in_txn=True)
                  for _ in range(rng.randint(2, 4))],
                "COMMIT" if rng.random() < 0.7 else "ROLLBACK",
            ]
        for stmt in group:
            eng.sql(stmt)
            con.execute(stmt)
        n_stmts += len(group) - 2 if len(group) > 1 else 1
        got = sorted(
            tuple(r) for r in eng.sql("SELECT k, v FROM dtab").collect()
        )
        want = con.execute("SELECT k, v FROM dtab ORDER BY k").fetchall()
        assert got == want, group
    con.close()

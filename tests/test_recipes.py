"""Statement recipes (``local_exec.Recipes``): a repeated driver-local
read is answered from its recipe, every event that can change the answer
forces a miss, and what a hit or a forced miss returns equals the rows
of the plan ``spark.sql`` builds for the same text and arguments.
"""

from __future__ import annotations

import sys
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.clientserver import ClientServerConnection

from data_chunk_compaction_in_duckdb_spark import catalog, local_exec
from data_chunk_compaction_in_duckdb_spark.engine import Engine

COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"
ORDER = f"SELECT {COLS} FROM orders_v WHERE o_orderkey = :k"
CUSTOMER = "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = :k"
BY_CUSTOMER = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = :k"


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    e = Engine(spark, sf_dir)
    e.create_versioned_table("orders_v", e.tables["orders"], str(tmp_path / "orders_v"))
    e.sql(f"PREPARE get_order AS SELECT {COLS} FROM orders_v WHERE o_orderkey = ?")
    return e


@pytest.fixture()
def fixture_views(spark, sf_dir):
    """Re-register the fixture views after a test that rebinds one."""
    yield
    catalog.invalidate_views(spark)
    catalog.register_views(spark, sf_dir)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def read(eng, sql: str, **params) -> tuple[set[str], list[tuple]]:
    """What ``sql`` added to ``recipe_counts`` and its rows, checked
    against the rows of the plan ``spark.sql`` builds."""
    before = eng.recipe_counts.copy()
    rows = _rows(eng.sql(sql, **params))
    assert rows == _rows(eng.spark.sql(sql, args=params)), (sql, params)
    return set(eng.recipe_counts - before), rows


def warm(eng, sql: str, **params) -> None:
    """The first local run learns the view names, the second records."""
    assert read(eng, sql, **params)[0] == {"miss", "names"}
    assert read(eng, sql, **params)[0] == {"miss", "record"}


@pytest.mark.parametrize("sql, keys", [(ORDER, (33, 1, 2)), (CUSTOMER, (7, 8, 150)),
                                       (BY_CUSTOMER, (4, 5, 99999))])
def test_serving_shapes_hit_with_new_keys(eng, spark, monkeypatch, sql, keys):
    warm(eng, sql, k=keys[0])
    local = eng.local_exec_counts["local"]
    for k in keys:
        assert read(eng, sql, k=k)[0] == {"hit"}
    assert eng.local_exec_counts["local"] == local + len(keys)

    def no_sql(*a, **kw):
        raise AssertionError("a recipe hit called spark.sql")

    sc = spark.sparkContext
    sc.setJobGroup("recipe-hit", "recipe-hit")
    try:
        with monkeypatch.context() as m:
            m.setattr(spark, "sql", no_sql)
            eng.sql(sql, k=keys[1]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("recipe-hit")) == []


@pytest.mark.parametrize("first", ["count", "view"])
def test_a_hit_and_its_collect_make_four_jvm_calls_and_build_nothing(
    eng, spark, monkeypatch, fixture_views, first
):
    """Four calls validate the recipe (conf fingerprint, the view); the
    collect answers from the Arrow table: no JVM DataFrame, no job.  The
    frame's first JVM use builds it in one ``toDataFrame``, the next
    builds nothing."""
    warm(eng, CUSTOMER, k=7)
    sent, me = [], threading.get_ident()
    real = ClientServerConnection.send_command

    def counted(self, command):
        if threading.get_ident() == me:  # not py4j's finalizer thread
            sent.append(command)
        return real(self, command)

    def built() -> int:
        return sum("\ntoDataFrame\n" in c for c in sent)

    uses = {
        "count": lambda df: df.count() == 1,
        "view": lambda df: df.createOrReplaceTempView("hit_frame") is None
        and spark.table("hit_frame").collect() == rows,
    }
    sc, group = spark.sparkContext, f"recipe-budget-{first}"
    sc.setJobGroup(group, group)
    before = eng.recipe_counts.copy()
    try:
        with monkeypatch.context() as m:
            m.setattr(ClientServerConnection, "send_command", counted)
            df = eng.sql(CUSTOMER, k=8)
            rows = df.collect()
            assert len(sent) <= 4 and built() == 0, [c.split("\n")[:3] for c in sent]
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
            assert uses[first](df) and built() == 1
            assert uses[{"count": "view", "view": "count"}[first]](df) and built() == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.dropTempView("hit_frame")
    assert eng.recipe_counts - before == {"hit": 1}
    assert [r.c_custkey for r in rows] == [8]


def test_numpy_arguments_read_like_python_ones(eng):
    by_name = "SELECT c_custkey, c_acctbal FROM customer WHERE c_name = :n"
    positional = "SELECT o_orderkey FROM orders WHERE o_custkey = ? AND o_orderkey < ?"
    warm(eng, CUSTOMER, k=7)
    warm(eng, by_name, n="Customer#000000007")
    for _ in range(2):
        eng.sql(positional, 4, 10**6)
    before = eng.recipe_counts.copy()
    for k in (8, 9, 10**4):
        for convert in (np.int64, np.int32):
            assert _rows(eng.sql(CUSTOMER, k=convert(k))) == _rows(eng.sql(CUSTOMER, k=k))
            got = _rows(eng.sql(positional, convert(k), convert(10**6)))
            assert got == _rows(eng.sql(positional, k, 10**6))
        name = f"Customer#{k:09d}"
        assert _rows(eng.sql(by_name, n=np.str_(name))) == _rows(eng.sql(by_name, n=name))
    assert eng.recipe_counts - before == {"hit": 3 * 10}


def test_fresh_threads_hit_while_another_commits(eng, spark):
    """Three threads that never called Spark before share the engine and
    its JVM handles; a recipe hit sets no active session, and each
    thread's hits read right while a fourth commits and rebinds a view."""
    keys = (1, 7, 8, 42, 99, 149, 150, 10**6)
    expect = {
        (sql, k): _rows(spark.sql(sql, args={"k": k}))
        for sql in (CUSTOMER, BY_CUSTOMER) for k in keys
    }
    for sql in (CUSTOMER, BY_CUSTOMER):
        warm(eng, sql, k=keys[0])
    vt = eng._versioned["orders_v"]
    before = eng.recipe_counts.copy()
    done, errors, reads = threading.Event(), [], []

    def writer():
        try:
            for i in range(6):
                eng.sql(f"UPDATE orders_v SET o_totalprice = {i}.5 WHERE o_orderkey = 3")
                if i % 2:
                    vt.checkpoint()
                    eng.refresh_versioned_view("orders_v", vt)
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(f"writer: {e!r}")
        finally:
            done.set()

    def reader(offset: int):
        try:
            i = offset
            while not done.is_set() or i < offset + 2 * len(keys):
                sql, k = (CUSTOMER, BY_CUSTOMER)[i % 2], keys[i % len(keys)]
                got = _rows(eng.sql(sql, k=k))
                if got != expect[sql, k]:
                    errors.append(f"{sql} k={k}: {got}")
                reads.append(1)
                i += 1
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(f"reader: {e!r}")

    threads = [threading.Thread(target=writer)]
    threads += [threading.Thread(target=reader, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    counts = eng.recipe_counts - before
    assert counts["hit"] == len(reads), counts


def test_positional_arguments_bind_by_position(eng):
    sql = "SELECT o_orderkey FROM orders WHERE o_custkey = ? AND o_orderkey < ?"
    for args in ((4, 10**6), (4, 10**6), (5, 100), (5, 10**6), (7, 3)):
        got = _rows(eng.sql(sql, *args))
        assert got == _rows(eng.spark.sql(sql, args=list(args))), args
    assert eng.recipe_counts["hit"] == 3


def test_execute_hits_and_matches_the_select(eng):
    for key in (35, 35, 36, -1, 2**40):
        got = _rows(eng.sql(f"EXECUTE get_order({key})"))
        assert got == _rows(eng.spark.sql(ORDER, args={"k": key}))
    # 35 learns, 35 records, 36 and -1 hit; 2**40 is a LongType key
    assert eng.recipe_counts["hit"] == 2
    assert eng.recipe_counts["record"] == 1


def _update(eng, vt):
    eng.sql("UPDATE orders_v SET o_totalprice = 1.5 WHERE o_orderkey = 3")


def _delete(eng, vt):
    eng.sql("DELETE FROM orders_v WHERE o_orderkey = 3")


def _insert(eng, vt):
    eng.sql("INSERT INTO orders_v SELECT o_orderkey + 900000, o_custkey, o_orderstatus, "
            "o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = 3")


def _checkpoint(eng, vt):
    _update(eng, vt)
    vt.checkpoint()
    eng.refresh_versioned_view("orders_v", vt)


def _rollback(eng, vt):
    eng.sql("BEGIN")
    _update(eng, vt)
    eng.sql("ROLLBACK")


def _commit(eng, vt):
    eng.sql("BEGIN")
    _update(eng, vt)
    eng.sql("COMMIT")


def _time_travel(eng, vt):
    _update(eng, vt)
    eng.refresh_versioned_view("orders_v", vt, 0)


def _set_threads(eng, vt):
    eng.sql("SET threads = 3")


def _pragma(eng, vt):
    eng.sql("PRAGMA threads=5")


def _conf_set(eng, vt):
    eng.spark.conf.set("spark.sql.caseSensitive", "false")


@pytest.mark.parametrize(
    "event",
    [_update, _delete, _insert, _checkpoint, _rollback, _commit, _time_travel,
     _set_threads, _pragma, _conf_set],
)
def test_versioned_events_force_a_miss(eng, spark, event):
    warm(eng, ORDER, k=3)
    vt = eng._versioned["orders_v"]
    try:
        event(eng, vt)
        counts, rows = read(eng, ORDER, k=3)
        # the recipe fails validation; the miss records a fresh one
        assert counts == {"miss", "invalid", "record"}, event.__name__
        assert read(eng, ORDER, k=3) == ({"hit"}, rows)
    finally:
        eng.sql("RESET threads")
        spark.conf.unset("spark.sql.caseSensitive")


def test_reads_inside_a_transaction_neither_hit_nor_record(eng):
    warm(eng, ORDER, k=3)
    eng.sql("BEGIN")
    try:
        _update(eng, None)
        counts, rows = read(eng, ORDER, k=3)
        assert counts == {"txn"} and [r[3] for r in rows] == [1.5]
    finally:
        eng.sql("ROLLBACK")
    counts, rows = read(eng, ORDER, k=3)
    assert "miss" in counts and [r[3] for r in rows] != [1.5]


def _create_or_replace_view(eng):
    eng.sql("CREATE OR REPLACE VIEW customer AS SELECT * FROM customer WHERE c_custkey < 5")


def _temp_view(eng):
    eng.tables["customer"].filter("c_custkey < 5").createOrReplaceTempView("customer")


@pytest.mark.parametrize("event", [_create_or_replace_view, _temp_view])
def test_fixture_view_rebinds_force_a_miss(eng, fixture_views, event):
    warm(eng, CUSTOMER, k=7)
    event(eng)
    counts, rows = read(eng, CUSTOMER, k=7)
    assert "miss" in counts and "hit" not in counts and rows == []


def test_a_lowered_broadcast_threshold_is_respected(eng, spark):
    warm(eng, CUSTOMER, k=7)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10b")
        bytes_before = eng.local_exec_counts["bytes"]
        counts, rows = read(eng, CUSTOMER, k=8)
        assert counts == {"miss", "invalid", "fallback"} and len(rows) == 1
        assert eng.local_exec_counts["bytes"] == bytes_before + 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_int32_and_int64_arguments_have_separate_recipes(eng):
    warm(eng, CUSTOMER, k=7)
    counts, rows = read(eng, CUSTOMER, k=2**40)  # a LongType argument
    assert counts == {"miss", "names"} and rows == []
    assert read(eng, CUSTOMER, k=8)[0] == {"hit"}
    assert read(eng, CUSTOMER, k=2**40 + 1)[0] == {"miss", "record"}
    assert read(eng, CUSTOMER, k=-(2**40))[0] == {"hit"}


def test_a_null_argument_takes_the_full_path(eng):
    warm(eng, CUSTOMER, k=7)
    assert read(eng, CUSTOMER, k=None) == ({"args"}, [])
    assert read(eng, CUSTOMER, k=9)[0] == {"hit"}


@pytest.mark.parametrize(
    "sql, keys",
    [
        # the parameter's value is also the other literal
        ("SELECT c_custkey FROM customer WHERE c_custkey = :k AND c_nationkey = 5", (5, 5, 5)),
        # the literal is a function of the parameter, not the parameter
        ("SELECT c_custkey FROM customer WHERE c_custkey = abs(:k)", (3, 3, -3)),
        # constant propagation derives a literal from the parameter
        ("SELECT c_custkey, c_nationkey FROM customer "
         "WHERE c_custkey = :k AND c_nationkey = c_custkey - 10", (15, 15, 20)),
        # the parameter sits in a pruned projection; the filter's 5 is the text's
        ("SELECT c_custkey FROM (SELECT c_custkey, :k AS z FROM customer) "
         "WHERE c_custkey = 5", (5, 5, 6)),
        # the text never uses the parameter
        ("SELECT c_custkey FROM customer WHERE c_custkey = 5", (5, 5, 6)),
    ],
)
def test_uncertain_parameter_places_are_not_recorded(eng, sql, keys):
    for k in keys:
        counts, _ = read(eng, sql, k=k)
        assert "record" not in counts and "hit" not in counts, (sql, k)
    assert eng.recipe_counts["slot"] >= 1


def test_markers_outside_the_filter_are_not_slots(eng):
    """A parameter whose value equals a filter literal of the text is not
    that literal's slot unless its marker is the literal."""
    eng.sql("PREPARE pruned AS SELECT c_custkey FROM "
            "(SELECT c_custkey, ? AS z FROM customer) WHERE c_custkey = 5")
    for k in (5, 5, 6):
        assert _rows(eng.sql(f"EXECUTE pruned({k})")) == [(5,)], k
    # Spark ignores a positional argument past the text's markers
    sql = "SELECT c_custkey FROM customer WHERE c_custkey < ? AND c_custkey = 5"
    for args in ((9, 5), (9, 5), (9, 6)):
        got = _rows(eng.sql(sql, *args))
        assert got == _rows(eng.spark.sql(sql, args=list(args))) == [(5,)], args
    assert eng.recipe_counts["record"] == 0 and eng.recipe_counts["hit"] == 0
    assert eng.recipe_counts["slot"] == 2


def test_a_refused_statement_is_not_analyzed_again(eng, monkeypatch):
    real, calls = local_exec._with_slots, []
    monkeypatch.setattr(local_exec, "_with_slots", lambda *a: calls.append(a) or real(*a))
    # refused whatever the value: the filter holds a function of :k
    sql = "SELECT c_custkey FROM customer WHERE c_custkey = abs(:k)"
    assert read(eng, sql, k=3)[0] == {"miss", "names"}
    assert read(eng, sql, k=3)[0] == {"miss", "slot"}
    for k in (3, 4, -4):
        assert read(eng, sql, k=k)[0] == {"miss", "refused"}
    assert len(calls) == 1
    # refused for k = 5 only, which is also the text's other literal
    sql = "SELECT c_custkey FROM customer WHERE c_custkey = :k AND c_nationkey = 5"
    assert read(eng, sql, k=5)[0] == {"miss", "names"}
    assert read(eng, sql, k=5)[0] == {"miss", "slot"}
    assert read(eng, sql, k=5)[0] == {"miss", "refused"}
    assert len(calls) == 2
    assert read(eng, sql, k=6)[0] == {"miss", "record"}
    assert read(eng, sql, k=5)[0] == {"hit"}


def test_a_filter_on_session_state_is_not_recorded(eng, spark):
    eng.create_macro("recipe_key", "", "5", "BIGINT")
    spark.sql("DECLARE OR REPLACE VARIABLE recipe_var BIGINT DEFAULT 3")
    try:
        for sql in ("SELECT c_custkey FROM customer WHERE c_custkey = recipe_key()",
                    "SELECT c_custkey FROM customer WHERE c_custkey = recipe_var"):
            for _ in range(3):
                counts, rows = read(eng, sql)
                assert "record" not in counts and len(rows) == 1
        eng.create_macro("recipe_key", "", "6", "BIGINT")
        spark.sql("SET VAR recipe_var = 4")
        assert read(eng, "SELECT c_custkey FROM customer WHERE c_custkey = recipe_key()")[1] == [(6,)]
        assert read(eng, "SELECT c_custkey FROM customer WHERE c_custkey = recipe_var")[1] == [(4,)]
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS recipe_key")
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS recipe_var")


def test_a_bound_value_that_changes_the_comparison_is_not_recorded(eng, spark, tmp_path):
    path = str(tmp_path / "small.parquet")
    pq.write_table(pa.table({"s": pa.array([1, 100, 32767, -32768], pa.int16())}), path)
    spark.read.schema("s SMALLINT").parquet(path).createOrReplaceTempView("small")
    sql = "SELECT s FROM small WHERE s >= :k"
    # at the type's bound the optimizer turns >= into =
    for k in (32767, 32767):
        assert "record" not in read(eng, sql, k=k)[0]
    assert read(eng, sql, k=100)[0] == {"miss", "record"}
    assert read(eng, sql, k=1) == ({"hit"}, [(1,), (100,), (32767,)])
    # a value the column type cannot hold takes the full path
    assert read(eng, sql, k=40000) == ({"bind", "miss", "fallback"}, [])


def test_reads_while_another_thread_commits(eng, spark):
    """Two readers repeat the same EXECUTE and point read while a writer
    commits; each read sees a state of its key that was current at some
    version between the read's start and end (the serving model's
    rule, kept here as a per-key history)."""
    vt = eng._versioned["orders_v"]
    key = 7
    base = _rows(spark.sql(ORDER, args={"k": key}))
    history = [(0, base)]  # (version, rows) of key, append-only
    lock = threading.Lock()
    version = [0]
    done = threading.Event()
    errors: list[str] = []

    def commit(sql: str, rows: list[tuple]) -> None:
        # the state is announced before the statement can make it visible
        with lock:
            history.append((version[0] + 1, rows))
        eng.sql(sql)
        with lock:
            version[0] += 1

    def writer():
        try:
            price = 100.0
            for i in range(8):
                price += 1
                row = [(*base[0][:3], price)]
                commit(f"UPDATE orders_v SET o_totalprice = {price} WHERE o_orderkey = {key}", row)
                if i % 3 == 1:
                    commit(f"DELETE FROM orders_v WHERE o_orderkey = {key}", [])
                    commit(f"INSERT INTO orders_v SELECT {key}, o_custkey, o_orderstatus, "
                           f"{price}, o_orderdate, o_orderpriority FROM orders "
                           f"WHERE o_orderkey = {key}", row)
                if i % 4 == 3:
                    vt.checkpoint()
                    eng.refresh_versioned_view("orders_v", vt)
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(f"writer: {e!r}")
        finally:
            done.set()

    def reader(execute: bool):
        try:
            while not done.is_set():
                with lock:
                    lo = version[0]
                if execute:
                    got = _rows(eng.sql(f"EXECUTE get_order({key})"))
                else:
                    got = _rows(eng.sql(ORDER, k=key))
                with lock:
                    hi = version[0] + 1  # a commit may be in flight
                    allowed = [rows for v, rows in history if v <= lo][-1:]
                    allowed += [rows for v, rows in history if lo < v <= hi]
                if got not in allowed:
                    errors.append(f"read {got} outside versions {lo}..{hi}")
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(f"reader: {e!r}")

    threads = [threading.Thread(target=writer)]
    threads += [threading.Thread(target=reader, args=(x,)) for x in (True, False)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    assert eng.recipe_counts["hit"] > 0 and eng.recipe_counts["miss"] > 0


def test_counts_lose_no_increment_across_threads():
    counts = local_exec.Counts()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: [counts.add("local") for _ in range(20000)])
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert counts["local"] == 8 * 20000

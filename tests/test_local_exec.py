"""Driver-local reads (local_exec) give what the Spark plan gives.

Each statement runs twice through ``Engine.sql``: once as the engine runs
it, and once with ``local_exec.Recipes.read`` patched to hand back the
Spark plan.
Rows (order aside) and the JVM-side schema, nullability included, must
match, and ``Engine.local_exec_counts`` says which path the first run took.
"""

from __future__ import annotations

import datetime as dt
import json
import struct
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_chunk_compaction_in_duckdb_spark import catalog, local_exec, prepared
from data_chunk_compaction_in_duckdb_spark.engine import Engine

ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"
NAN = float("nan")


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    e = Engine(spark, sf_dir)
    e.create_versioned_table("orders_v", e.tables["orders"], str(tmp_path / "orders_v"))
    return e


def _spark_plan(monkeypatch):
    """Every query keeps the plan ``spark.sql`` builds: no local read and
    no recipe hit."""
    return monkeypatch.setattr(
        local_exec.Recipes, "read", lambda self, query, args, sql, counts, in_txn=False: sql()
    )


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _jvm_schema(df) -> T.StructType:
    return T.StructType.fromJson(json.loads(df._jdf.schema().json()))


def both(eng, monkeypatch, sql: str, *args, **params) -> tuple[str, list[tuple]]:
    """The path the engine took for ``sql`` ("local" or the fallback
    reason) and its rows, after checking them against the Spark plan."""
    before = eng.local_exec_counts.copy()
    got = eng.sql(sql, *args, **params)
    (path,) = (eng.local_exec_counts - before).keys()
    with monkeypatch.context() as m:
        _spark_plan(m)
        ref = eng.sql(sql, *args, **params)
    assert _jvm_schema(got) == _jvm_schema(ref), sql
    rows = _rows(got)
    assert rows == _rows(ref), sql
    if path == "local":
        assert got._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    return path, rows


@pytest.mark.parametrize(
    "sql, params",
    [
        ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = :k",
         {"k": 7}),
        ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = :k", {"k": 4}),
        ("SELECT * FROM customer WHERE c_custkey IN (3, 5, 140)", {}),
        ("SELECT c_name AS n, c_custkey FROM customer WHERE c_custkey >= 140", {}),
        ("SELECT o_orderkey FROM orders WHERE 10 > o_orderkey AND o_orderkey > 2", {}),
        ("SELECT c_custkey, c_nationkey FROM customer WHERE c_nationkey <= 2", {}),
        ("SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'", {}),
        ("SELECT * FROM nation", {}),
        (f"SELECT {ORDER_COLS} FROM orders_v WHERE o_orderkey = :k", {"k": 33}),
        (f"SELECT {ORDER_COLS} FROM orders_v WHERE o_orderkey IN (1, 2, 3, 4)", {}),
        (f"SELECT {ORDER_COLS} FROM orders_v WHERE o_orderkey BETWEEN 10 AND 40", {}),
    ],
)
def test_point_in_and_range_reads_run_locally(eng, monkeypatch, sql, params):
    path, rows = both(eng, monkeypatch, sql, **params)
    assert path == "local"
    assert rows


@pytest.mark.parametrize("key", [-5, 999999, 10**9, 9223372036854775807])
def test_missing_and_negative_keys_read_locally_and_empty(eng, monkeypatch, key):
    sql = "SELECT c_custkey, c_name FROM customer WHERE c_custkey = :k"
    assert both(eng, monkeypatch, sql, k=key) == ("local", [])


@pytest.mark.parametrize(
    "sql, params, reason",
    [
        # BIGINT overflow: the key is a DECIMAL, and the optimizer folds
        # the out-of-range compare to an empty relation; nothing is scanned
        ("SELECT c_custkey FROM customer WHERE c_custkey = 9223372036854775808", {}, "shape"),
        ("SELECT c_custkey FROM customer WHERE c_nationkey = :k", {"k": 3000000000}, "shape"),
        # a NULL key folds the filter away too
        ("SELECT c_custkey FROM customer WHERE c_custkey = :k", {"k": None}, "shape"),
        ("SELECT c_custkey FROM customer WHERE c_custkey = 1 OR c_custkey = 2", {}, "conjunct"),
        ("SELECT c_custkey FROM customer WHERE c_mktsegment > 'B'", {}, "conjunct"),
        ("SELECT c_custkey FROM customer WHERE c_acctbal = 711.56", {}, "conjunct"),
        ("SELECT c_custkey + 1 AS k FROM customer WHERE c_custkey = 1", {}, "shape"),
        ("SELECT c_custkey FROM customer WHERE c_custkey = 1 LIMIT 1", {}, "shape"),
        ("SELECT count(*) AS n FROM customer WHERE c_custkey = 1", {}, "shape"),
        ("SELECT c_name, o_orderkey FROM customer JOIN orders ON c_custkey = o_custkey "
         "WHERE c_custkey = 1", {}, "shape"),
        ("SELECT input_file_name() AS f, c_custkey FROM customer WHERE c_custkey = 1", {},
         "shape"),
    ],
)
def test_other_statements_keep_the_spark_plan(eng, monkeypatch, sql, params, reason):
    assert both(eng, monkeypatch, sql, **params)[0] == reason


def test_python_udf_filter_falls_back(eng, monkeypatch, spark):
    spark.udf.register("is_even", lambda k: k % 2 == 0, "boolean")
    sql = "SELECT c_custkey FROM customer WHERE is_even(c_custkey) AND c_custkey < 10"
    path, rows = both(eng, monkeypatch, sql)
    assert path == "shape" and [r[0] for r in rows] == [0, 2, 4, 6, 8]


def test_metadata_column_falls_back(eng, monkeypatch, spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", F.col("_metadata.file_name").alias("f")
    ).createOrReplaceTempView("cust_md")
    path, rows = both(eng, monkeypatch, "SELECT c_custkey, f FROM cust_md WHERE c_custkey = 1")
    assert path == "shape" and rows == [(1, "customer.parquet")]


def test_serving_shapes_hit_and_execute_folds_without_a_job(eng, monkeypatch, spark):
    eng.sql(f"PREPARE get_order AS SELECT {ORDER_COLS} FROM orders_v WHERE o_orderkey = ?")
    assert both(eng, monkeypatch, "EXECUTE get_order(35)")[0] == "local"
    assert both(eng, monkeypatch, "EXECUTE get_order(-1)") == ("local", [])
    sc = spark.sparkContext
    sc.setJobGroup("local-exec", "local-exec")
    try:
        rows = eng.sql("EXECUTE get_order(35)").collect()
        rows += eng.sql(
            "SELECT c_custkey, c_name FROM customer WHERE c_custkey = :k", k=3
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 2
    assert list(sc.statusTracker().getJobIdsForGroup("local-exec")) == []


def test_read_errors_fall_back_and_are_counted(eng, monkeypatch):
    def broken(*a, **k):
        raise OSError("unreadable")

    monkeypatch.setattr(pq, "read_table", broken)
    sql = "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 9"
    path, rows = both(eng, monkeypatch, sql)
    assert path == "error" and [r[0] for r in rows] == [9]


def test_broadcast_threshold_bounds_the_local_read(eng, monkeypatch, spark):
    sql = "SELECT c_custkey FROM customer WHERE c_custkey = 9"
    try:
        for threshold in ("10b", "-1"):  # -1 turns broadcasting off
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            assert both(eng, monkeypatch, sql)[0] == "bytes"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert both(eng, monkeypatch, sql)[0] == "local"


def _alltypes(spark, tmp_path, repeat: int = 1, nan: bool = False) -> str:
    """A parquet file with a column of each type in `catalog.footer_type`'s
    mapped set, NULLs in all but ``i64``, its 3 rows ``repeat`` times
    over with ``i64`` counting up, read by the temp view ``alltypes``.
    With ``nan`` the float columns hold NaN and -0.0 beside a NULL."""
    path = str(tmp_path / "alltypes.parquet")
    f, d = [1.5, None, -0.25], [None, 2.25, 1e300]
    if nan:
        f, d = [NAN, None, -0.0], [None, -0.0, NAN]
    base = pa.table(
        {
            "b": pa.array([True, None, False], pa.bool_()),
            "i8": pa.array([1, 2, None], pa.int8()),
            "i16": pa.array([-3, None, 300], pa.int16()),
            "i32": pa.array([None, 7, -70000], pa.int32()),
            "i64": pa.array([1, 2, 3], pa.int64()),
            "f": pa.array(f, pa.float32()),
            "d": pa.array(d, pa.float64()),
            "s": pa.array(["x", "", None], pa.string()),
            "day": pa.array([dt.date(2024, 2, 29), None, dt.date(1900, 1, 1)], pa.date32()),
            "ts": pa.array([dt.datetime(2024, 1, 1, 12, 30, 0, 123456), None,
                            dt.datetime(1969, 12, 31, 23, 59, 59)], pa.timestamp("us")),
            "li": pa.array([[1, None], None, []], pa.list_(pa.int64())),
            "nl": pa.array([[[1], [2, 3]], [None], None], pa.list_(pa.list_(pa.int32()))),
        }
    )
    table = pa.concat_tables([base] * repeat)
    table = table.set_column(4, "i64", pa.array(range(1, table.num_rows + 1), pa.int64()))
    pq.write_table(table, path)
    schema = catalog.footer_schema(spark, path)
    assert schema is not None
    spark.read.schema(schema).parquet(path).createOrReplaceTempView("alltypes")
    return path


def test_every_mapped_type_in_the_projection(eng, monkeypatch, spark, tmp_path):
    _alltypes(spark, tmp_path)
    for where in ("i64 >= 1", "i8 = 2", "i16 IN (-3, 300)", "i32 < 0", "s = ''",
                  "b IS NOT NULL", "i64 = 99"):
        assert both(eng, monkeypatch, f"SELECT * FROM alltypes WHERE {where}")[0] == "local"


@pytest.mark.parametrize(
    "conf",
    [
        {},
        {"spark.sql.session.timeZone": "America/Los_Angeles"},
        {"spark.sql.execution.arrow.useLargeVarTypes": "true"},
        # every non-empty build then goes to an RDD on the JVM side
        {"spark.sql.execution.arrow.localRelationThreshold": "1"},
    ],
)
def test_the_build_matches_create_dataframe(eng, spark, tmp_path, conf):
    """`local_exec._build` builds what ``spark.createDataFrame`` builds for
    the same Arrow table and schema: rows in order, and the schema with
    its nullability; a recipe recorded before a SET of the build's conf
    is recorded again."""
    path = _alltypes(spark, tmp_path, repeat=400)
    sql = "SELECT * FROM alltypes WHERE i64 >= :k"
    for k in (1, 1):  # the first local run learns the view, the second records
        eng.sql(sql, k=k)
    try:
        for name, value in conf.items():
            spark.conf.set(name, value)
        before, local = eng.recipe_counts.copy(), eng.local_exec_counts["local"]
        for k in (1, 1200, 1201):  # many rows, one, none
            got, ref = eng.sql(sql, k=k), spark.sql(sql, args={"k": k})
            assert _jvm_schema(got) == _jvm_schema(ref)
            assert _rows(got) == _rows(ref), k
        assert eng.local_exec_counts["local"] == local + 3
        moved = {"miss": 1, "invalid": 1, "record": 1, "hit": 2} if conf else {"hit": 3}
        assert eng.recipe_counts - before == moved

        jvm = eng._recipes._jvm()
        recipe = local_exec.decide(jvm, spark.table("alltypes"))
        full = pq.read_table(path, schema=pa.schema(recipe.fields))
        for n in (0, 1, 2, 3, full.num_rows):
            table = full.slice(0, n)
            got = DataFrame(local_exec._build(jvm, table, recipe), spark)
            ref = spark.createDataFrame(table, schema=recipe.schema)
            assert got.schema == ref.schema == recipe.schema
            assert _jvm_schema(got) == _jvm_schema(ref)
            assert got.collect() == ref.collect(), n
    finally:
        for name in conf:
            spark.conf.unset(name)


def _exact(rows) -> list:
    """``rows`` as their class, field names and cells, each cell with its
    type and a float as its bits: NaN equals NaN, -0.0 differs from 0.0,
    ``True`` from ``1``."""

    def cell(v):
        if isinstance(v, list):
            return [cell(x) for x in v]
        return (type(v).__name__, struct.pack(">d", v) if isinstance(v, float) else v)

    return [(type(r).__name__, getattr(r, "__fields__", None), [cell(v) for v in r]) for r in rows]


@pytest.mark.parametrize("tz", [None, "America/Los_Angeles"])
def test_collect_from_arrow_matches_the_jvm(eng, spark, tmp_path, tz):
    """A local read's ``collect`` answers from its Arrow table, builds
    nothing, and gives the Rows the JVM collect of the same frame gives,
    in order, and those of ``spark.sql``: field names (duplicates too),
    cell types, and floats bit for bit, for every mapped type at 0 to
    1200 rows."""
    _alltypes(spark, tmp_path, repeat=400, nan=True)
    statements = (
        "SELECT * FROM alltypes WHERE i64 <= :k",
        "SELECT i64 AS x, i32 AS x, nl, ts AS t, f, d FROM alltypes WHERE i64 <= :k",
    )
    try:
        if tz:
            spark.conf.set("spark.sql.session.timeZone", tz)
        for sql in statements:
            for k in (1, 1):  # the first local run learns the view, the second records
                eng.sql(sql, k=k)
            before = eng.recipe_counts.copy()
            for k in (0, 1, 2, 3, 1200):
                got = eng.sql(sql, k=k)
                assert isinstance(got, local_exec.LocalFrame), (sql, k)
                rows = got.collect()
                assert got._built is None, "collect built the JVM DataFrame"
                assert len(rows) == k
                jvm = DataFrame(got._jdf, spark).collect()
                ref = spark.sql(sql, args={"k": k}).collect()
                assert _exact(rows) == _exact(jvm), (sql, k)
                assert sorted(_exact(rows), key=repr) == sorted(_exact(ref), key=repr), (sql, k)
            assert eng.recipe_counts - before == {"hit": 5}
    finally:
        spark.conf.unset("spark.sql.session.timeZone")


def test_the_local_frame_is_a_dataframe(eng, monkeypatch, spark):
    """Every method but ``collect`` runs on the JVM DataFrame the local
    frame builds on first use, and equals the Spark plan's answer."""
    sql = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_custkey = :k"
    got = eng.sql(sql, k=4)
    with monkeypatch.context() as m:
        _spark_plan(m)
        ref = eng.sql(sql, k=4)
    assert isinstance(got, local_exec.LocalFrame) and not isinstance(ref, local_exec.LocalFrame)
    n = ref.count()
    assert n > 1
    assert got.take(2) == ref.take(2) and got.take(n + 5) == ref.take(n + 5)
    assert got.first() == ref.first()
    assert got.toPandas().equals(ref.toPandas())
    orders = spark.table("orders")
    assert _rows(got.union(orders.limit(3).select(*ref.columns))) == _rows(
        ref.union(orders.limit(3).select(*ref.columns))
    )
    joined = [got.join(orders, "o_orderkey"), ref.join(orders, "o_orderkey")]
    assert _rows(joined[0]) == _rows(joined[1]) and _jvm_schema(joined[0]) == _jvm_schema(joined[1])
    agg = "SELECT count(*) AS n, sum(o_totalprice) AS total, max(o_orderkey) AS top FROM {}"
    try:
        got.createOrReplaceTempView("local_frame")
        ref.createOrReplaceTempView("spark_frame")
        assert spark.sql(agg.format("local_frame")).collect() == spark.sql(
            agg.format("spark_frame")
        ).collect()
    finally:
        spark.catalog.dropTempView("local_frame")
        spark.catalog.dropTempView("spark_frame")
    try:
        assert got.cache() is got and got.is_cached
        assert got.count() == n and _rows(got) == _rows(ref)
        assert got.storageLevel == ref.cache().storageLevel
    finally:
        got.unpersist()
        ref.unpersist()


def test_threads_first_touching_a_frame_build_it_once(eng, monkeypatch):
    got = eng.sql("SELECT c_custkey, c_name FROM customer WHERE c_custkey = :k", k=5)
    assert isinstance(got, local_exec.LocalFrame)
    real, calls = local_exec._build, []

    def slow(*args):
        calls.append(threading.get_ident())
        time.sleep(0.2)  # the other thread asks while this one builds
        return real(*args)

    monkeypatch.setattr(local_exec, "_build", slow)
    start, seen = threading.Barrier(2, timeout=30), []

    def touch():
        start.wait()
        seen.append(got._jdf)

    threads = [threading.Thread(target=touch) for _ in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1 and len(seen) == 2 and seen[0] is seen[1]
    assert got._jdf is seen[0] and len(calls) == 1
    assert [tuple(r) for r in DataFrame(got._jdf, got.sparkSession).collect()] == [
        tuple(r) for r in got.collect()
    ]


def test_column_case_differs_from_the_file(eng, monkeypatch, spark, tmp_path):
    path = str(tmp_path / "upper.parquet")
    pq.write_table(pa.table({"ID": pa.array([1, 2, 3], pa.int64()),
                             "v": pa.array(["a", "b", "c"])}), path)
    spark.read.schema("id BIGINT, v STRING").parquet(path).createOrReplaceTempView("cased")
    path_taken, rows = both(eng, monkeypatch, "SELECT id, v FROM cased WHERE id = 2")
    assert path_taken == "type" and rows == [(2, "b")]


def test_key_in_a_later_file_next_to_empty_part_files(eng, monkeypatch, spark, tmp_path):
    base = eng.tables["orders"].filter("o_orderkey <= 3")
    vt = eng.create_versioned_table("multi", base, str(tmp_path / "multi"))
    for key in (100, 101, 102):
        eng.sql(f"INSERT INTO multi SELECT {key} AS o_orderkey, o_custkey, o_orderstatus, "
                f"o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = 1")
    eng.sql("DELETE FROM multi WHERE o_orderkey = 101")
    # A commit drops the zero-row file that DELETE leaves; a manifest
    # written before that rule still lists one, so publish one here.
    m = vt._manifest(vt.latest_version())
    empty = vt._write_data(base.limit(0), m["mapping"])
    vt._link_manifest(dict(m, version=m["version"] + 1, files=sorted(m["files"] + empty),
                           stats={**m["stats"], **{f: {} for f in empty}}))
    eng.refresh_versioned_view("multi", vt)
    files = vt._manifest(vt.latest_version())["files"]
    counts = [pq.read_metadata(f"{vt.path}/{f}").num_rows for f in files]
    assert len(files) >= 4 and 0 in counts
    for key in (102, 100, 101, 2):
        path, rows = both(eng, monkeypatch, f"SELECT {ORDER_COLS} FROM multi WHERE o_orderkey = {key}")
        assert path == "local" and len(rows) == (0 if key == 101 else 1), key
    path, rows = both(eng, monkeypatch, "SELECT o_orderkey FROM multi WHERE o_orderkey >= 2")
    assert path == "local" and [r[0] for r in rows] == [100, 102, 2, 3]


def test_reads_after_update_delete_and_checkpoint(eng, monkeypatch):
    read = f"SELECT {ORDER_COLS} FROM orders_v WHERE o_orderkey IN (1, 2, 3)"
    eng.sql("UPDATE orders_v SET o_totalprice = 1.25 WHERE o_orderkey = 2")
    path, rows = both(eng, monkeypatch, read)
    assert path == "local" and [r[3] for r in rows if r[0] == 2] == [1.25]
    eng.sql("DELETE FROM orders_v WHERE o_orderkey = 3")
    path, rows = both(eng, monkeypatch, read)
    assert path == "local" and [r[0] for r in rows] == [1, 2]
    vt = eng._versioned["orders_v"]
    vt.checkpoint()
    eng.refresh_versioned_view("orders_v", vt)
    assert both(eng, monkeypatch, read) == ("local", rows)


def test_reads_after_add_and_rename_column(eng, monkeypatch):
    vt = eng._versioned["orders_v"]
    vt.add_column("o_note", "STRING")
    eng.refresh_versioned_view("orders_v", vt)
    eng.sql("INSERT INTO orders_v SELECT o_orderkey + 100000, o_custkey, o_orderstatus, "
            "o_totalprice, o_orderdate, o_orderpriority, 'fresh' FROM orders WHERE o_orderkey = 1")
    read = "SELECT o_orderkey, o_note FROM orders_v WHERE o_orderkey IN (1, 100001)"
    path, rows = both(eng, monkeypatch, read)
    assert path == "local" and rows == [(1, None), (100001, "fresh")]
    vt.rename_column("o_note", "o_memo")
    eng.refresh_versioned_view("orders_v", vt)
    read = "SELECT o_orderkey, o_memo FROM orders_v WHERE o_orderkey IN (1, 100001)"
    assert both(eng, monkeypatch, read) == ("local", rows)
    read = "SELECT o_orderkey FROM orders_v WHERE o_memo = 'fresh'"
    assert both(eng, monkeypatch, read) == ("local", [(100001,)])


def test_read_inside_a_rolled_back_transaction(eng, monkeypatch):
    read = f"SELECT {ORDER_COLS} FROM orders_v WHERE o_orderkey = 777777"
    eng.sql("BEGIN")
    eng.sql("INSERT INTO orders_v SELECT 777777, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = 1")
    assert len(both(eng, monkeypatch, read)[1]) == 1
    eng.sql("ROLLBACK")
    assert both(eng, monkeypatch, read)[1] == []


@pytest.mark.parametrize(
    "text",
    ["5", "-5", "+7", "007", "0", "2147483647", "2147483648", "-2147483648",
     "-2147483649", "9223372036854775807", "-9223372036854775808", "'abc'", "''",
     "'héllo wörld'", "NULL", "null", "TRUE", "false", " 12 "],
)
def test_plain_execute_arguments_fold_like_the_select(spark, text):
    plain, value = prepared._plain_literal(text)
    assert plain
    row = spark.sql(f"SELECT ({text}) AS x").collect()[0]
    assert type(row.x) is type(value) and row.x == value

    def lit_type(v):
        return spark.range(1).select(F.lit(v).alias("x")).schema["x"].dataType

    assert lit_type(value) == lit_type(row.x)
    sc = spark.sparkContext
    sc.setJobGroup("fold-args", "fold-args")
    try:
        folded = prepared.fold_args(spark, {"p1": text})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fold-args")) == []
    # spark.sql binds a value as F.lit does, so the value fixes the type
    assert type(folded["p1"]) is type(value) and folded["p1"] == value


@pytest.mark.parametrize(
    "text", ["1.5", "9223372036854775808", "-9223372036854775809", "1 + 1", "'it''s'",
             "'a\\\\b'", "DATE '2024-01-01'", "- 5"],
)
def test_other_execute_arguments_fold_through_the_select(spark, text):
    assert not prepared._plain_literal(text)[0]
    folded = prepared.fold_args(spark, {"p1": text, "p2": "3"})
    row = spark.sql(f"SELECT ({text}) AS x").collect()[0]
    got = spark.range(1).select(F.lit(folded["p1"]).alias("x"), F.lit(folded["p2"]).alias("y"))
    got = got.collect()[0]
    assert got.x == row.x and got.y == 3

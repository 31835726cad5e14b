"""Engine facade tests: SQL entry, parameterized SQL (prepared-statement
analog), DataFrame entry, explain, compaction hooks."""

from __future__ import annotations

import pytest


def test_engine_sql_and_tables(spark, sf_dir):
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    df = eng.sql("SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1")
    assert df.count() == 3
    assert eng.table("region").count() == 5
    plan = eng.explain(df)
    assert "HashAggregate" in plan or "Aggregate" in plan


def test_engine_parameterized_sql(spark, sf_dir):
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    hi = eng.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > :p", p=400000
    ).collect()[0].n
    lo = eng.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > :p", p=100000
    ).collect()[0].n
    assert 0 < hi < lo
    # positional ? markers (reference test/sql/prepared/ $1/? form)
    qhi = eng.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > ?", 400000
    ).collect()[0].n
    assert qhi == hi
    two = eng.sql(
        "SELECT COUNT(*) AS n FROM orders "
        "WHERE o_totalprice > ? AND o_orderstatus = ?",
        100000, "F",
    ).collect()[0].n
    assert 0 < two <= lo
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not both"):
        eng.sql("SELECT ? AS a WHERE 1 = :b", 1, b=1)


def test_engine_compaction_hooks(spark, sf_dir):
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    li = eng.table("lineitem").repartition(16).filter("l_quantity <= 2")
    hist = eng.profile(li)
    assert hist.n_partitions == 16
    out = eng.compact(li, target_rows=10_000)
    assert out.rdd.getNumPartitions() <= 16


def test_engine_create_function_and_table_function(spark, sf_dir):
    """Connection::CreateScalarFunction analog: register vectorized and
    row UDFs, call from SQL; expose a DataFrame as a named relation."""
    import pandas as pd

    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)

    def double_it(s: pd.Series) -> pd.Series:
        return s * 2

    eng.create_function("double_it", double_it, "double")
    out = eng.sql(
        "SELECT l_quantity, double_it(l_quantity) AS d FROM lineitem LIMIT 20"
    ).collect()
    assert all(abs(r.d - 2 * r.l_quantity) < 1e-9 for r in out)

    eng.create_function("shout", lambda s: (s or "") + "!", "string", vectorized=False)
    r = eng.sql("SELECT shout(n_name) AS x FROM nation LIMIT 1").collect()[0]
    assert r.x.endswith("!")

    top = eng.table("nation").limit(3)
    eng.create_table_function("nation_top3", top)
    assert eng.sql("SELECT COUNT(*) AS n FROM nation_top3").collect()[0].n == 3


def test_engine_create_macro_matches_duckdb(spark, sf_dir, duck):
    """SQL macros: the same expression body registered as a DuckDB MACRO
    and a Spark SQL temporary function must agree row-for-row, and the
    macro must stay JVM-side (no BatchEvalPython in the plan)."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.create_macro(
        "discounted", "price DOUBLE, disc DOUBLE", "ROUND(price * (1 - disc), 2)"
    )
    got = {
        (r[0], r[1])
        for r in eng.sql(
            "SELECT l_orderkey, discounted(l_extendedprice, l_discount) "
            "FROM lineitem WHERE l_orderkey < 100"
        ).collect()
    }
    duck.execute(
        "CREATE OR REPLACE MACRO discounted(price, disc) AS ROUND(price * (1 - disc), 2)"
    )
    exp = set(
        map(
            tuple,
            duck.execute(
                "SELECT l_orderkey, discounted(l_extendedprice, l_discount) "
                "FROM lineitem WHERE l_orderkey < 100"
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0
    plan = eng.explain(
        eng.sql("SELECT discounted(l_extendedprice, l_discount) FROM lineitem"),
        "simple",
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_engine_pragma_mapping(spark, sf_dir):
    """SET threads -> shuffle partitions (the reference benchmark's
    engine pragmas, vector_compaction.cpp:50-57); unknown pragmas raise."""
    import pytest as _pytest

    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        eng.pragma("threads", 4)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        # memory_limit routes to the settings store: no-op at runtime
        # (executor memory is submit-time) but full SET/readback parity
        # with DuckDB's rendering
        eng.pragma("memory_limit", "1GB")
        assert eng.current_setting("memory_limit") == "953.6 MiB"
        with _pytest.raises(ValueError, match="no runtime-settable"):
            eng.pragma("nosuch_pragma", 1)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_create_index_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    """CREATE INDEX analog: after indexing orders and lineitem on the
    join key, their join must run with no join-side exchange (the ART
    INDEX_JOIN parity), and point lookups still answer correctly."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.plans import count_exchanges

    eng = Engine(spark=spark, sf_dir=sf_dir)
    try:
        eng.create_index("orders", "o_orderkey", str(tmp_path / "o_idx"), n_buckets=4)
        eng.create_index(
            "lineitem", "l_orderkey", str(tmp_path / "l_idx"), n_buckets=4
        )
        joined = eng.sql(
            "SELECT count(*) AS n FROM lineitem JOIN orders"
            " ON l_orderkey = o_orderkey"
        )
        # aggregation may exchange; the join itself must not
        assert count_exchanges(joined) <= 1
        n = joined.first()["n"]
        assert n > 0

        point = eng.sql(
            "SELECT count(*) AS n FROM orders WHERE o_orderkey = 7"
        ).first()["n"]
        assert point in (0, 1)
    finally:
        # restore the plain views for other tests sharing the session
        import data_chunk_compaction_in_duckdb_spark.catalog as _c

        _c.register_views(spark, sf_dir)


def test_create_udtf_standalone_and_lateral(spark, sf_dir):
    """Python UDTF: SQL-callable standalone and correlated (LATERAL),
    the §2.2 TABLE IN-OUT surface through the modern API."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield (w, i)

    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.create_udtf("split_words_t", SplitWords, "word STRING, pos INT")

    rows = eng.sql("SELECT * FROM split_words_t('alpha beta')").collect()
    assert [(r.word, r.pos) for r in rows] == [("alpha", 0), ("beta", 1)]

    lat = eng.sql(
        "SELECT count(*) AS n FROM documents d,"
        " LATERAL split_words_t(d.text) w WHERE d.doc_id < 10"
    ).first()["n"]
    plain = eng.sql(
        "SELECT sum(size(split(trim(text), '\\\\s+'))) AS n"
        " FROM documents WHERE doc_id < 10"
    ).first()["n"]
    assert lat == plain and lat > 0


def test_view_override_invalidates_register_memo(spark, sf_dir, tmp_path):
    """Replacing a fixture-named view through the Engine must invalidate
    the register_views memo: a subsequent register_views call has to
    rebind the original fixture table, not silently no-op on the stale
    memo (round-2 advisory).  Engine.tables must also be a private copy —
    mutating it must not leak into other register_views callers."""
    import data_chunk_compaction_in_duckdb_spark.catalog as _c
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    nation_df = _c.register_views(spark, sf_dir)["nation"]
    baseline = nation_df.count()
    eng = Engine(spark=spark, sf_dir=sf_dir)

    # Engine.tables is a copy, not the memoized dict
    eng.tables["nation"] = eng.tables["nation"].limit(1)
    assert _c.register_views(spark, sf_dir)["nation"].count() == baseline

    try:
        eng.create_table_function("nation", nation_df.limit(2))
        assert spark.table("nation").count() == 2
        # the memo was invalidated, so this genuinely re-registers
        assert _c.register_views(spark, sf_dir)["nation"].count() == baseline
        assert spark.table("nation").count() == baseline
    finally:
        _c.invalidate_views(spark)
        _c.register_views(spark, sf_dir)


def test_engine_sql_sequence_surface(spark):
    """Reference-parity SQL entry point for sequences
    (test/sql/catalog/sequence/): CREATE/DROP SEQUENCE statements and
    nextval/currval calls run through Engine.sql like any other SQL."""
    import pytest

    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, register=False)
    eng.sql("CREATE SEQUENCE sql_ids START 5 INCREMENT 3")
    assert eng.sql("SELECT nextval('sql_ids') AS v").collect()[0]["v"] == 5
    assert eng.sql("SELECT nextval('sql_ids') AS v").collect()[0]["v"] == 8
    assert eng.sql("SELECT currval('sql_ids') AS v").collect()[0]["v"] == 8
    # multi-row claim over a relation: the value SET is deterministic
    vals = sorted(
        r["v"]
        for r in eng.sql(
            "SELECT nextval('sql_ids') AS v FROM range(4)"
        ).collect()
    )
    assert vals == [11, 14, 17, 20]
    # SQL-created sequences are catalog-visible
    meta = {r["sequence_name"]: r for r in eng.duckdb_sequences().collect()}
    assert meta["sql_ids"]["last_value"] == 20
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE SEQUENCE sql_ids")
    eng.sql("CREATE OR REPLACE SEQUENCE sql_ids START 100")
    assert eng.sql("SELECT nextval('sql_ids') AS v").collect()[0]["v"] == 100
    eng.sql("DROP SEQUENCE sql_ids")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("DROP SEQUENCE sql_ids")
    eng.sql("DROP SEQUENCE IF EXISTS sql_ids")


def test_engine_settings_literal_and_pragma_reset(spark, sf_dir):
    """The duckdb_settings() rewrite must not touch the name inside a
    string literal, and SET-then-RESET of a pragma-only name (mapped to
    a Spark conf, not the settings store) stays symmetric."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    row = eng.sql("SELECT 'duckdb_settings()' AS s FROM region LIMIT 1")
    assert row.first().s == "duckdb_settings()"
    eng.sql("SET enable_optimizer=false")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    eng.sql("RESET enable_optimizer")  # pre-fix: raised Catalog Error
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_engine_sql_sequence_error_grid(spark):
    """Invalid sequence SQL through Engine.sql raises the same shapes
    DuckDB's binder does (reference test/sql/catalog/sequence error
    grids, dual-engine-validated in tests/sqllogic/sequence_create_
    errors.test via the shared seqsql parser + Sequence validation)."""
    import pytest

    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, register=False)
    for bad in (
        "CREATE SEQUENCE eq_a INCREMENT 0",
        "CREATE SEQUENCE eq_b MINVALUE 5 MAXVALUE 5",
        "CREATE SEQUENCE eq_c MINVALUE 9 MAXVALUE 2",
        "CREATE SEQUENCE eq_d START 0 MINVALUE 1 MAXVALUE 10",
        "CREATE SEQUENCE eq_e START 11 MINVALUE 1 MAXVALUE 10",
    ):
        with pytest.raises(ValueError):
            eng.sql(bad)
    # none of the failed CREATEs leaked into the engine catalog
    assert eng.duckdb_sequences().count() == 0
    # nextval on a never-created name errors at evaluation
    with pytest.raises(Exception, match="eq_missing"):
        eng.sql("SELECT nextval('eq_missing') AS v").collect()
    # a dropped name no longer resolves in queries
    with pytest.raises(Exception, match="does not exist"):
        eng.sql("SELECT nextval('sql_ids') AS v").collect()


def test_engine_index_facade(spark, sf_dir):
    """PRAGMA create_fts_index / CREATE INDEX analogs on the Engine:
    build-once indexes registered by name, queried through the facade,
    results identical to the direct pipeline paths."""
    from pyspark.sql import functions as F

    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.pipeline import (
        bm25_scores,
        pq_adc_topk,
    )

    eng = Engine(spark=spark, sf_dir=sf_dir)
    docs = eng.table("documents")
    eng.create_fts_index("docs_fts", docs, "doc_id", "text")
    got = {
        r["doc"]: round(r["score"], 9)
        for r in eng.match_bm25("docs_fts", ["data", "query"]).collect()
    }
    want = {
        r["doc"]: round(r["score"], 9)
        for r in bm25_scores(docs, "doc_id", "text", ["data", "query"]).collect()
    }
    assert got == want

    emb = eng.table("embeddings")
    eng.create_vector_index(
        "emb_pq", emb, "vec_id", "embedding", dim=64, m=16, codes=16
    )
    queries = emb.filter(F.col("vec_id") % 97 == 0).limit(2)
    via = sorted(
        (r.query_id, r.match_id)
        for r in eng.index("emb_pq").topk(emb, queries, k=3, rerank=20).collect()
    )
    direct = sorted(
        (r.query_id, r.match_id)
        for r in pq_adc_topk(
            emb, queries, "vec_id", "embedding", dim=64, k=3, m=16,
            codes=16, rerank=20,
        ).collect()
    )
    assert via == direct
    eng.create_vector_index(
        "emb_ivf", emb, "vec_id", "embedding", dim=64, kind="ivf",
        n_clusters=8,
    )
    assert eng.index("emb_ivf").topk(emb, queries, k=3).count() > 0


def test_duckdb_indexes_catalog_and_unique(spark, sf_dir, tmp_path):
    """duckdb_indexes() readback (reference src/function/table/system/
    duckdb_indexes.cpp): names, tables, uniqueness flags and the
    canonical sql rendering; UNIQUE creation validates the key set and
    refuses duplicates; several indexes can coexist on one table; DROP
    INDEX removes the catalog entry."""
    import pytest as _pytest

    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    try:
        eng.create_index(
            "nation", ["n_regionkey"], str(tmp_path / "a"), n_buckets=2,
            name="i_nat_reg",
        )
        # second index on the SAME table: own physical copy, both listed
        eng.create_index(
            "nation", ["n_nationkey"], str(tmp_path / "b"), n_buckets=2,
            name="i_nat_key", unique=True,
        )
        rows = {r.index_name: r for r in eng.duckdb_indexes().collect()}
        assert set(rows) == {"i_nat_reg", "i_nat_key"}
        assert rows["i_nat_reg"].sql == (
            "CREATE INDEX i_nat_reg ON nation(n_regionkey);"
        )
        assert rows["i_nat_key"].is_unique and not rows["i_nat_key"].is_primary
        assert rows["i_nat_key"].sql == (
            "CREATE UNIQUE INDEX i_nat_key ON nation(n_nationkey);"
        )
        # the indexed view still answers correctly after two rebinds
        assert eng.sql("SELECT count(*) AS n FROM nation").first()["n"] == 25

        # UNIQUE over a duplicated key must refuse creation
        with _pytest.raises(ValueError, match="duplicate keys"):
            eng.create_index(
                "nation", ["n_regionkey"], str(tmp_path / "c"),
                n_buckets=2, name="i_dup", unique=True,
            )
        assert "i_dup" not in {
            r.index_name for r in eng.duckdb_indexes().collect()
        }

        eng.drop_index("i_nat_reg")
        assert [r.index_name for r in eng.duckdb_indexes().collect()] == [
            "i_nat_key"
        ]
    finally:
        import data_chunk_compaction_in_duckdb_spark.catalog as _c

        _c.register_views(spark, sf_dir)


def test_duckdb_constraints_readback(spark, sf_dir, tmp_path):
    """duckdb_constraints() over engine-registered versioned tables:
    canonical text, implied per-PK-column NOT NULL rows, CHECK column
    attribution."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 6)], "k LONG, name STRING, nk INT"
    )
    eng.create_versioned_table(
        "ct_demo", df, str(tmp_path / "vt"),
        constraints=[
            {"type": "primary_key", "columns": ["k"]},
            {"type": "not_null", "column": "name"},
            {"type": "check", "expr": "nk > 0"},
        ],
    )
    rows = sorted(
        (r.constraint_type, r.constraint_text, tuple(r.constraint_column_names))
        for r in eng.duckdb_constraints().collect()
    )
    assert rows == [
        ("CHECK", "CHECK((nk > 0))", ("nk",)),
        ("NOT NULL", "NOT NULL", ("k",)),      # implied by the PK
        ("NOT NULL", "NOT NULL", ("name",)),
        ("PRIMARY KEY", "PRIMARY KEY(k)", ("k",)),
    ]


def test_sql_qualify_rewrite_grid(spark, sf_dir):
    """QUALIFY accepted verbatim by Engine.sql (dialect.rewrite_qualify)
    across the forms DuckDB's test/sql/qualify exercises: select-alias
    predicate, inline window predicate, SELECT *, GROUP BY + HAVING
    ahead, ORDER BY/LIMIT tail behind, parameter markers, and no
    false-positive on the word inside a string literal."""
    from data_chunk_compaction_in_duckdb_spark import dialect
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)

    # alias reference
    df = eng.sql(
        "SELECT n_regionkey, n_nationkey, "
        "rank() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) rnk "
        "FROM nation QUALIFY rnk <= 2"
    )
    assert df.columns == ["n_regionkey", "n_nationkey", "rnk"]
    assert df.count() == 10 and df.filter("rnk > 2").count() == 0

    # inline window + SELECT * + tail
    df = eng.sql(
        "SELECT * FROM nation QUALIFY row_number() OVER "
        "(PARTITION BY n_regionkey ORDER BY n_nationkey DESC) = 1 "
        "ORDER BY n_regionkey LIMIT 3"
    )
    rows = df.collect()
    assert len(rows) == 3 and [r.n_regionkey for r in rows] == [0, 1, 2]
    assert "__qualify" not in df.columns

    # GROUP BY + HAVING ahead of QUALIFY (post-aggregation windows)
    df = eng.sql(
        "SELECT n_regionkey, count(*) AS n FROM nation "
        "GROUP BY n_regionkey HAVING count(*) > 0 "
        "QUALIFY rank() OVER (ORDER BY n DESC, n_regionkey) = 1"
    )
    assert df.count() == 1

    # parameter markers still bind through the rewrite
    df = eng.sql(
        "SELECT n_nationkey, row_number() OVER (ORDER BY n_nationkey) rn "
        "FROM nation WHERE n_regionkey = ? QUALIFY rn <= ?",
        1,
        2,
    )
    assert df.count() == 2

    # the word inside a string literal is data, not a clause
    df = eng.sql("SELECT 'does not QUALIFY here' AS s FROM region")
    assert df.count() == 5 and df.first().s == "does not QUALIFY here"
    assert dialect.rewrite_qualify("SELECT 'QUALIFY' AS s") is None
    # subquery QUALIFY is not top-level: untouched text would fail in
    # Spark, so the rewriter must not half-rewrite it either
    assert dialect.rewrite_qualify(
        "SELECT * FROM (SELECT 1 AS a) t WHERE a IN (SELECT 1)"
    ) is None


def test_sql_star_modifiers_grid(spark, sf_dir):
    """EXCLUDE/REPLACE star modifiers through Engine.sql
    (dialect.rewrite_star_modifiers): bare and parenthesized EXCLUDE,
    REPLACE re-expression in select scope (ORDER BY sees the new
    value), qualified stars, combination with QUALIFY, and no
    false-positive on multiplication or count(*)."""
    from data_chunk_compaction_in_duckdb_spark import dialect
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)

    df = eng.sql("SELECT * EXCLUDE (n_name) FROM nation")
    assert "n_name" not in df.columns and df.count() == 25

    df = eng.sql("SELECT * EXCLUDE n_name FROM nation LIMIT 1")
    assert "n_name" not in df.columns

    # REPLACE: new value visible to ORDER BY on the output name
    df = eng.sql(
        "SELECT * EXCLUDE (n_name) "
        "REPLACE (CAST(-n_nationkey AS BIGINT) AS n_nationkey) "
        "FROM nation ORDER BY n_nationkey LIMIT 2"
    )
    rows = df.collect()
    assert sorted(df.columns) == ["n_nationkey", "n_regionkey"]
    assert [r.n_nationkey for r in rows] == [-24, -23]

    # composes with QUALIFY
    df = eng.sql(
        "SELECT * EXCLUDE (n_name) FROM nation "
        "QUALIFY row_number() OVER (PARTITION BY n_regionkey "
        "ORDER BY n_nationkey) = 1"
    )
    assert df.count() == 5 and "n_name" not in df.columns

    # multiplication and count(*) are not star modifiers
    assert dialect.rewrite_star_modifiers(
        "SELECT a * b FROM t"
    ) is None
    assert dialect.rewrite_star_modifiers("SELECT count(*) FROM t") is None
    one = eng.sql("SELECT count(*) AS n FROM region").first()
    assert one.n == 5


def test_sql_statement_surface_show_describe_summarize(spark, sf_dir):
    """DESCRIBE / SHOW TABLES / SUMMARIZE / CHECKPOINT through
    Engine.sql — DuckDB's output shapes on the user-facing entry point
    (the sqllogic runner has had this dispatch since round 6)."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    d = eng.sql("DESCRIBE region").collect()
    assert [r["column_name"] for r in d] == ["r_regionkey", "r_name"]
    assert d[0]["column_type"] == "INTEGER"
    dq = eng.sql("DESCRIBE SELECT r_name, r_regionkey * 2 AS k FROM region")
    assert [r["column_name"] for r in dq.collect()] == ["r_name", "k"]
    names = [r["name"] for r in eng.sql("SHOW TABLES").collect()]
    assert "region" in names and "lineitem" in names
    s = eng.sql("SUMMARIZE region").collect()
    assert {r["column_name"] for r in s} == {"r_regionkey", "r_name"}
    assert eng.sql("CHECKPOINT") is None


def test_sql_checkpoint_folds_versioned_tables(spark, tmp_path):
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, register=False)
    df = spark.range(100).selectExpr("id AS k").repartition(8)
    vt = eng.create_versioned_table("ckt", df, str(tmp_path / "ckt"))
    assert len(vt._manifest(0)["files"]) >= 8
    eng.sql("CHECKPOINT")
    m = vt._manifest(vt.latest_version())
    assert m["op"] == "checkpoint" and len(m["files"]) <= 4
    assert eng.sql("SELECT count(*) AS c FROM ckt").collect()[0]["c"] == 100
    # inside a transaction: probed DuckDB accepts it; here it is a
    # no-op against the pinned base
    eng.sql("BEGIN")
    eng.sql("CHECKPOINT")
    eng.sql("ROLLBACK")


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT ['a', 'b']::VARCHAR[] AS v",
        "SELECT CAST([1, 2] AS VARCHAR[]) AS v",
        "SELECT TRY_CAST([[1], [2, 3]] AS VARCHAR[][]) AS v",
        "SELECT n_nationkey AS k, [n_nationkey, n_regionkey]::BIGINT[] AS v "
        "FROM nation ORDER BY k",
    ],
)
def test_sql_array_type_suffix_matches_duckdb(spark, sf_dir, duck, sql):
    """DuckDB's ``T[]`` cast targets reach Spark as ``ARRAY<T>``, with
    VARCHAR as STRING, and give DuckDB's values."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    got = [tuple(r) for r in eng.sql(sql).collect()]
    want = [tuple(r) for r in duck.execute(sql).fetchall()]
    assert got == want

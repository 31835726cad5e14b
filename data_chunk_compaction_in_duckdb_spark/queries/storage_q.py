"""Persistent-storage parity queries: versioned commits, time travel,
and snapshot diffs over the copy-on-write table store
(reference test/sql/storage/, test/sql/storage_version/,
test/sql/transactions/ — storage.versioned for the design mapping).

Each query materializes a real VersionedTable under a throwaway
directory, drives a deterministic commit sequence against it, and
returns version-level aggregates.  The DuckDB oracle replays the SAME
mutation algebra as pure CTEs over the base parquet — if the store's
commit/manifest/copy-on-write machinery drops, duplicates, or
mis-scopes a single row, the per-version counts and exact-cents sums
diverge.

Sums use exact integer cents (floor(price*100) per row, BIGINT sum) so
the hash is order-independent — the same discipline as the h2oai
corpus.  The returned relation is version-count-sized, so the final
createDataFrame is metadata-scale, never row-scale.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_chunk_compaction_in_duckdb_spark.catalog import load_table
from data_chunk_compaction_in_duckdb_spark.queries.registry import query
from data_chunk_compaction_in_duckdb_spark.storage import VersionedTable

# The shared deterministic commit sequence (Spark drives the store;
# DuckDB replays the algebra):
#   v0 create : orders with o_orderkey % 10 < 3
#   v1 insert : orders with o_orderkey % 10 = 7
#   v2 delete : WHERE o_orderstatus = 'F' AND o_orderkey % 100 < 50
#   v3 update : o_totalprice += 100.0 WHERE o_orderpriority LIKE '1%'
_ORACLE_VERSIONS_CTE = """
    WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 10 < 3),
    v1 AS (SELECT * FROM v0
           UNION ALL SELECT * FROM orders WHERE o_orderkey % 10 = 7),
    v2 AS (SELECT * FROM v1
           WHERE NOT COALESCE(
             o_orderstatus = 'F' AND o_orderkey % 100 < 50, FALSE)),
    v3 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                  CASE WHEN o_orderpriority LIKE '1%'
                       THEN o_totalprice + 100.0 ELSE o_totalprice END
                    AS o_totalprice,
                  o_orderdate, o_orderpriority
           FROM v2)
"""


def _drive_commits(spark: SparkSession, sf_dir: str) -> tuple[VersionedTable, str]:
    orders = load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="vt_q_")
    vt = VersionedTable.create(
        spark, root + "/t", orders.filter(F.col("o_orderkey") % 10 < 3)
    )
    vt.insert(orders.filter(F.col("o_orderkey") % 10 == 7))
    vt.delete_where(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 100 < 50)
    )
    vt.update_where(
        F.col("o_orderpriority").startswith("1"),
        {"o_totalprice": F.col("o_totalprice") + 100.0},
    )
    return vt, root


def _version_stats(vt: VersionedTable, v: int) -> tuple[int, int]:
    n, cents = (
        vt.read(v)
        .agg(
            F.count("*"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")),
        )
        .collect()[0]
    )
    return int(n), int(cents)


@query(
    "storage_timetravel_versions",
    oracle=_ORACLE_VERSIONS_CTE
    + """
    SELECT 0 AS version, 'create' AS op, COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents FROM v0
    UNION ALL
    SELECT 1, 'insert', COUNT(*),
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM v1
    UNION ALL
    SELECT 2, 'delete', COUNT(*),
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM v2
    UNION ALL
    SELECT 3, 'update', COUNT(*),
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM v3
    ORDER BY version
    """,
)
def storage_timetravel_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel across a create→insert→delete→update commit chain:
    each version's row count and exact-cents sum read AS OF that
    version from the manifests the commits actually wrote."""
    vt, root = _drive_commits(spark, sf_dir)
    try:
        ops = ["create", "insert", "delete", "update"]
        rows = [
            (v, ops[v], *_version_stats(vt, v)) for v in range(4)
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    schema = StructType(
        [
            StructField("version", IntegerType()),
            StructField("op", StringType()),
            StructField("n_rows", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@query(
    "storage_snapshot_diff",
    oracle=_ORACLE_VERSIONS_CTE
    + """
    SELECT
      (SELECT COUNT(*) FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v0))
        AS n_added,
      (SELECT COUNT(*) FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v3))
        AS n_removed
    """,
)
def storage_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between version 0 and the latest version (EXCEPT
    ALL both ways): updated rows count on both sides, inserts only on
    the added side, deletes only on the removed side.  Exercises that
    old manifests stay readable after later copy-on-write commits."""
    vt, root = _drive_commits(spark, sf_dir)
    try:
        cols = vt.read(0).columns
        v0 = vt.read(0).select(cols)
        v3 = vt.read(3).select(cols)
        n_added = v3.exceptAll(v0).count()
        n_removed = v0.exceptAll(v3).count()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    schema = StructType(
        [
            StructField("n_added", LongType()),
            StructField("n_removed", LongType()),
        ]
    )
    return spark.createDataFrame([(n_added, n_removed)], schema)


@query(
    "storage_checkpoint_content",
    oracle=_ORACLE_VERSIONS_CTE
    + """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM v3
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def storage_checkpoint_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT + VACUUM then read: the compacted file set (old
    versions' files physically deleted) must still reproduce the
    latest logical state, per-group (reference checkpoint_manager
    folding the WAL into the block file without changing table
    content)."""
    vt, root = _drive_commits(spark, sf_dir)
    try:
        vt.checkpoint(n_files=2)
        vt.vacuum(retain_last=1)
        out = (
            vt.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
                .alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
            .collect()
        )
        rows = [(r["o_orderstatus"], r["n_rows"], r["sum_cents"]) for r in out]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    schema = StructType(
        [
            StructField("o_orderstatus", StringType()),
            StructField("n_rows", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@query(
    "storage_schema_evolution",
    oracle="""
    WITH s0 AS (SELECT * FROM orders WHERE o_orderkey % 10 < 3),
    s1 AS (SELECT *, 'N' AS flag FROM s0),
    s2 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  o_orderpriority,
                  CASE WHEN o_orderstatus = 'O' THEN 'Y' ELSE flag END AS flag
           FROM s1),
    s5 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                  o_totalprice AS price, o_orderpriority, flag FROM s2
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  o_orderpriority, 'I'
           FROM orders WHERE o_orderkey % 10 = 7)
    SELECT flag, COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(price * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM s5
    GROUP BY flag
    ORDER BY flag
    """,
)
def storage_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE chain over live data: ADD COLUMN DEFAULT (eager
    backfill), UPDATE through the new column, metadata-only RENAME and
    DROP (zero files rewritten — pinned by the module tests), then an
    INSERT under the evolved schema.  The oracle replays the schema
    algebra as projections; any mapping slip (resurrected dropped
    column, stale physical name) shifts the per-flag sums."""
    orders = load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="vt_q_")
    try:
        vt = VersionedTable.create(
            spark, root + "/t", orders.filter(F.col("o_orderkey") % 10 < 3)
        )
        vt.add_column("flag", "string", default=F.lit("N"))
        vt.update_where(
            F.col("o_orderstatus") == "O", {"flag": F.lit("Y")}
        )
        vt.rename_column("o_totalprice", "price")
        vt.drop_column("o_orderdate")
        incoming = (
            orders.filter(F.col("o_orderkey") % 10 == 7)
            .withColumn("flag", F.lit("I"))
            .withColumnRenamed("o_totalprice", "price")
            .drop("o_orderdate")
        )
        vt.insert(incoming)
        out = (
            vt.read()
            .groupBy("flag")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.floor(F.col("price") * 100).cast("long"))
                .alias("sum_cents"),
            )
            .orderBy("flag")
            .collect()
        )
        rows = [(r["flag"], r["n_rows"], r["sum_cents"]) for r in out]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    schema = StructType(
        [
            StructField("flag", StringType()),
            StructField("n_rows", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@query(
    "storage_constraint_quarantine",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_orderkey % 97 = 0 THEN NULL
                  ELSE o_orderstatus END AS o_orderstatus
      FROM orders),
    w AS (SELECT *, COUNT(*) OVER (PARTITION BY o_custkey) AS n_key
          FROM base),
    r AS (SELECT CASE
            WHEN o_orderstatus IS NULL THEN 'not_null:o_orderstatus'
            WHEN NOT (o_totalprice < 300000.0)
              THEN 'check:o_totalprice < 300000.0'
            WHEN o_custkey IS NULL OR n_key > 1
              THEN 'primary_key:o_custkey'
          END AS reject_reason FROM w)
    SELECT coalesce(reject_reason, 'accepted') AS reason,
           COUNT(*) AS n_rows
    FROM r
    GROUP BY reason
    ORDER BY reason
    """,
)
def storage_constraint_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint quarantine (reference test/sql/constraints/ violation
    errors, recast as the dead-letter split a pipeline load needs):
    tag every row with the FIRST violated constraint — NOT NULL, then
    CHECK, then within-batch PRIMARY KEY uniqueness — and count per
    reason.  One projection + one key-partitioned count window; no
    driver state."""
    from data_chunk_compaction_in_duckdb_spark.storage.versioned import (
        quarantine,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    tagged = quarantine(
        orders,
        [
            {"type": "not_null", "column": "o_orderstatus"},
            {"type": "check", "expr": "o_totalprice < 300000.0"},
            {"type": "primary_key", "columns": ["o_custkey"]},
        ],
    )
    return (
        tagged.groupBy(
            F.coalesce(F.col("_reject_reason"), F.lit("accepted")).alias(
                "reason"
            )
        )
        .agg(F.count("*").alias("n_rows"))
        .orderBy("reason")
    )


@query(
    "storage_generated_columns",
    oracle="""
    WITH g0 AS (
      SELECT *,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents,
             o_orderpriority LIKE '1%' AS is_urgent
      FROM orders WHERE o_orderkey % 10 < 3),
    g1 AS (SELECT * FROM g0
           WHERE NOT COALESCE(is_urgent AND o_orderstatus = 'F', FALSE)),
    g2 AS (SELECT * FROM g1
           UNION ALL
           SELECT *,
                  CAST(floor(o_totalprice * 100) AS BIGINT),
                  o_orderpriority LIKE '1%'
           FROM orders WHERE o_orderkey % 10 = 7)
    SELECT is_urgent,
           COUNT(*) AS n_rows,
           CAST(SUM(total_cents) AS BIGINT) AS sum_cents
    FROM g2
    GROUP BY is_urgent
    ORDER BY is_urgent
    """,
)
def storage_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIRTUAL generated columns (reference test/sql/generated_columns/):
    declared once in the manifest, computed at read, usable in mutation
    predicates (the DELETE filters on one), never stored — the oracle
    recomputes the same expressions inline and must agree after a
    delete + insert under the generated schema."""
    orders = load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="vt_q_")
    try:
        vt = VersionedTable.create(
            spark,
            root + "/t",
            orders.filter(F.col("o_orderkey") % 10 < 3),
            generated={
                "total_cents": "CAST(floor(o_totalprice * 100) AS BIGINT)",
                "is_urgent": "o_orderpriority LIKE '1%'",
            },
        )
        vt.delete_where(
            F.col("is_urgent") & (F.col("o_orderstatus") == "F")
        )
        vt.insert(orders.filter(F.col("o_orderkey") % 10 == 7))
        out = (
            vt.read()
            .groupBy("is_urgent")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("total_cents").alias("sum_cents"),
            )
            .orderBy("is_urgent")
            .collect()
        )
        rows = [(r["is_urgent"], r["n_rows"], r["sum_cents"]) for r in out]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    schema = StructType(
        [
            StructField("is_urgent", BooleanType()),
            StructField("n_rows", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@query(
    "storage_cluster_readback",
    oracle="""
    WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 10 < 3)
    SELECT o_orderpriority,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM v0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def storage_cluster_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER BY then read back through a zone-map-pruned scan: the
    range-clustering rewrite (and the file skipping it enables) must be
    a pure physical reorganization — per-group counts, exact-cents sums
    and key extrema all unchanged.  The read uses filters spanning the
    full key domain, so pruning logic runs but must keep every file
    that can match."""
    orders = load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="vt_q_")
    try:
        vt = VersionedTable.create(
            spark, root + "/t", orders.filter(F.col("o_orderkey") % 10 < 3)
        )
        vt.cluster_by(["o_orderkey"], n_files=4)
        out = (
            vt.read(filters=[("o_orderkey", ">=", 0)])
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
                .alias("sum_cents"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
            .orderBy("o_orderpriority")
            .collect()
        )
        rows = [
            (r["o_orderpriority"], r["n_rows"], r["sum_cents"],
             r["min_key"], r["max_key"])
            for r in out
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    schema = StructType(
        [
            StructField("o_orderpriority", StringType()),
            StructField("n_rows", LongType()),
            StructField("sum_cents", LongType()),
            StructField("min_key", LongType()),
            StructField("max_key", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@query(
    "storage_dedup_rewrite",
    oracle="""
    WITH base AS (SELECT * FROM documents),
    fp AS (SELECT doc_id, source, n_chars,
                  md5(regexp_replace(lower(trim(regexp_replace(text,
                      '\\s+', ' ', 'g'))), '[^a-z0-9_ ]', '', 'g'))
                    AS fprint
           FROM base),
    keep AS (SELECT doc_id FROM (
               SELECT doc_id,
                      row_number() OVER (PARTITION BY fprint
                                         ORDER BY doc_id) AS rn
               FROM fp) r WHERE rn = 1)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM fp
    WHERE doc_id IN (SELECT doc_id FROM keep)
    GROUP BY source
    ORDER BY source
    """,
)
def storage_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-layer dedup rewrite: exact-duplicate documents (normalized
    md5 fingerprint, keep lowest doc_id) are DELETED from a versioned
    documents table via the anti-join delete_keys path — the durable
    form of a corpus dedup pass.  The loser set flows keys-only through
    a distributed semi-join; the oracle replays fingerprint + keep
    policy + deletion as pure SQL over the base parquet."""
    from pyspark.sql import Window

    from data_chunk_compaction_in_duckdb_spark.pipeline.text import (
        text_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="vt_q_")
    try:
        vt = VersionedTable.create(spark, root + "/t", docs)
        fp = vt.read().select(
            "doc_id", text_fingerprint("text", hex_chars=32).alias("fprint")
        )
        w = Window.partitionBy("fprint").orderBy("doc_id")
        losers = (
            fp.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select("doc_id")
        )
        vt.delete_keys(losers, "doc_id")
        out = (
            vt.read()
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .orderBy("source")
            .collect()
        )
        rows = [(r["source"], r["n_docs"], r["sum_chars"]) for r in out]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    schema = StructType(
        [
            StructField("source", StringType()),
            StructField("n_docs", LongType()),
            StructField("sum_chars", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@query(
    "storage_restore_readback",
    oracle=_ORACLE_VERSIONS_CTE
    + """
    SELECT 0 AS version, 'create' AS op, COUNT(*) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents FROM v0
    UNION ALL
    SELECT 1, 'insert', COUNT(*),
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM v1
    UNION ALL
    SELECT 2, 'delete', COUNT(*),
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM v2
    UNION ALL
    SELECT 3, 'update', COUNT(*),
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM v3
    UNION ALL
    SELECT 4, 'restore(1)', COUNT(*),
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM v1
    UNION ALL
    SELECT 5, 'restore(3)', COUNT(*),
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      FROM v3
    ORDER BY version
    """,
)
def storage_restore_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE as a commit (storage/versioned.py restore; reference
    test/sql/storage_version rollback): after the shared
    create→insert→delete→update chain, restore(1) rolls the table back
    to the post-insert state by reference and restore(3) rolls the
    rollback away — the oracle replays both as re-reads of the v1/v3
    CTEs, so a restore that rewrote, dropped, or duplicated one row
    diverges in the exact-cents sum."""
    vt, root = _drive_commits(spark, sf_dir)
    try:
        vt.restore(1)
        vt.restore(3)
        ops = ["create", "insert", "delete", "update", "restore(1)", "restore(3)"]
        rows = [(v, ops[v], *_version_stats(vt, v)) for v in range(6)]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    schema = StructType(
        [
            StructField("version", IntegerType()),
            StructField("op", StringType()),
            StructField("n_rows", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@query(
    "storage_sequence_allocation",
    oracle="""
    SELECT c_custkey,
           1014 + 7 * (ROW_NUMBER() OVER (ORDER BY c_custkey) - 1)
             AS seq_id,
           1098 - 1 * (ROW_NUMBER() OVER (ORDER BY c_custkey DESC) - 1)
             AS rev_id
    FROM customer WHERE c_custkey % 100 = 0
    ORDER BY c_custkey
    """,
)
def storage_sequence_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE SEQUENCE / nextval parity (storage/sequence.py; reference
    src/catalog/catalog_entry/sequence_catalog_entry.cpp,
    test/sql/catalog/sequence/test_sequence.test): an ascending sequence
    (START 1000 INCREMENT 7) takes two driver-side nextval() calls then
    one distributed ``with_sequence`` range claim over the customer
    subset, and a descending sequence (START 1098 INCREMENT -1) numbers
    the same rows in reverse key order.  The oracle replays the
    allocation algebra — two nextvals advance the head to 1014, then
    value(i) = first + i*increment in claim order — so an allocator that
    skipped, duplicated, or misordered one value diverges."""
    import tempfile

    from data_chunk_compaction_in_duckdb_spark.storage import (
        Sequence,
        with_sequence,
    )

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 100 == 0
    )
    root = tempfile.mkdtemp(prefix="seq_q_")
    try:
        seq = Sequence.create(spark, root + "/s", start=1000, increment=7)
        got = (seq.nextval(), seq.nextval(), seq.currval())
        if got != (1000, 1007, 1007):
            raise RuntimeError(
                f"sequence nextval/nextval/currval gave {got}, "
                "expected (1000, 1007, 1007)"
            )
        fwd = with_sequence(cust, seq, "seq_id", order=["c_custkey"])
        rev = Sequence.create(
            spark,
            root + "/r",
            start=1098,
            increment=-1,
            minvalue=-(10**9),
            maxvalue=1098,
        )
        both = with_sequence(
            fwd.select(
                "c_custkey", "seq_id", (-F.col("c_custkey")).alias("_neg")
            ),
            rev,
            "rev_id",
            order=["_neg"],
        )
        out = both.select("c_custkey", "seq_id", "rev_id").orderBy(
            "c_custkey"
        )
    finally:
        # the claims committed eagerly and with_sequence embeds
        # (first, increment) as literals, so the lazy result reads only
        # the fixture — the sequence logs can go immediately
        shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "storage_transaction_rollback",
    oracle="""
    CREATE OR REPLACE TABLE txr_t AS
      SELECT o_orderkey AS k, o_custkey AS c,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus AS st
      FROM orders WHERE o_orderkey % 10 < 4;
    BEGIN;
    INSERT INTO txr_t
      SELECT o_orderkey + 10000000, o_custkey,
             CAST(floor(o_totalprice * 50) AS BIGINT), 'Z'
      FROM orders WHERE o_orderkey % 10 = 6;
    DELETE FROM txr_t WHERE st = 'F' AND k % 100 < 30;
    UPDATE txr_t SET cents = cents + 777 WHERE k % 7 = 0;
    ROLLBACK;
    BEGIN;
    DELETE FROM txr_t WHERE k % 10 = 3;
    UPDATE txr_t SET cents = cents - 11 WHERE st = 'O';
    COMMIT;
    SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(k) AS BIGINT) AS key_sum
    FROM txr_t GROUP BY st ORDER BY st
    """,
)
def storage_transaction_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEGIN/ROLLBACK/COMMIT multi-statement atomicity through
    Engine.sql (storage/transaction.py; reference
    src/transaction/transaction_context.cpp, test/sql/transactions/):
    BOTH engines run the literal transaction statements — a first
    transaction staging an INSERT+DELETE+UPDATE is rolled back (its
    whole net effect must vanish), a second one commits (its net effect
    must publish as one version).  A staged statement leaking through
    ROLLBACK, a lost statement inside COMMIT, or wrong statement
    ordering diverges the per-status counts and exact-cents sums.  The
    Spark side is ONE manifest commit for the committed transaction
    (file-granular copy-on-write staging, untouched files by
    reference)."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.queries.registry import (
        retained_tmpdir,
    )

    eng = Engine(spark=spark, sf_dir=sf_dir)
    base = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 < 4
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderstatus").alias("st"),
    )
    root = retained_tmpdir("txr_q_")
    eng.create_versioned_table("txr_t", base, root + "/t")
    eng.sql("BEGIN")
    eng.sql(
        "INSERT INTO txr_t SELECT o_orderkey + 10000000, o_custkey, "
        "CAST(floor(o_totalprice * 50) AS BIGINT), 'Z' "
        "FROM orders WHERE o_orderkey % 10 = 6"
    )
    eng.sql("DELETE FROM txr_t WHERE st = 'F' AND k % 100 < 30")
    eng.sql("UPDATE txr_t SET cents = cents + 777 WHERE k % 7 = 0")
    eng.sql("ROLLBACK")
    eng.sql("BEGIN")
    eng.sql("DELETE FROM txr_t WHERE k % 10 = 3")
    eng.sql("UPDATE txr_t SET cents = cents - 11 WHERE st = 'O'")
    eng.sql("COMMIT")
    return eng.sql(
        "SELECT st, count(*) AS n, "
        "CAST(sum(cents) AS BIGINT) AS total_cents, "
        "CAST(sum(k) AS BIGINT) AS key_sum "
        "FROM txr_t GROUP BY st ORDER BY st"
    )


@query(
    "storage_transaction_commit_visibility",
    oracle="""
    CREATE OR REPLACE TABLE txv_t AS
      SELECT n_nationkey AS k, n_regionkey AS r FROM nation;
    CREATE OR REPLACE TABLE txv_log(stage VARCHAR, n BIGINT, rsum BIGINT);
    BEGIN;
    INSERT INTO txv_t
      SELECT n_nationkey + 100, n_regionkey + 10 FROM nation
      WHERE n_nationkey < 7;
    UPDATE txv_t SET r = r * 2 WHERE k % 3 = 0;
    INSERT INTO txv_log
      SELECT 'staged', count(*), CAST(sum(r) AS BIGINT) FROM txv_t;
    COMMIT;
    INSERT INTO txv_log
      SELECT 'committed', count(*), CAST(sum(r) AS BIGINT) FROM txv_t;
    BEGIN;
    DELETE FROM txv_t WHERE k >= 100;
    ROLLBACK;
    INSERT INTO txv_log
      SELECT 'after_rollback', count(*), CAST(sum(r) AS BIGINT) FROM txv_t;
    SELECT stage, n, rsum FROM txv_log ORDER BY stage
    """,
)
def storage_transaction_commit_visibility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Transaction visibility semantics (storage/transaction.py;
    reference test/sql/transactions/ visibility grids): a SELECT inside
    the transaction must see the staged state (read-your-own-writes —
    the 'staged' log row is written FROM the uncommitted table on both
    engines), the committed state must persist, and a rolled-back
    DELETE must restore it.  The oracle drives DuckDB's real
    transaction machinery with a log table whose in-transaction insert
    commits atomically with the staged mutations."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.queries.registry import (
        retained_tmpdir,
    )

    eng = Engine(spark=spark, sf_dir=sf_dir)
    base = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_regionkey").alias("r")
    )
    root = retained_tmpdir("txv_q_")
    eng.create_versioned_table("txv_t", base, root + "/t")
    agg = "SELECT count(*) AS n, CAST(sum(r) AS BIGINT) AS rsum FROM txv_t"
    log: list[tuple[str, int, int]] = []

    eng.sql("BEGIN")
    eng.sql(
        "INSERT INTO txv_t SELECT n_nationkey + 100, n_regionkey + 10 "
        "FROM nation WHERE n_nationkey < 7"
    )
    eng.sql("UPDATE txv_t SET r = r * 2 WHERE k % 3 = 0")
    row = eng.sql(agg).collect()[0]  # read-your-own-writes, pre-COMMIT
    log.append(("staged", row["n"], row["rsum"]))
    eng.sql("COMMIT")
    row = eng.sql(agg).collect()[0]
    log.append(("committed", row["n"], row["rsum"]))
    eng.sql("BEGIN")
    eng.sql("DELETE FROM txv_t WHERE k >= 100")
    eng.sql("ROLLBACK")
    row = eng.sql(agg).collect()[0]
    log.append(("after_rollback", row["n"], row["rsum"]))
    schema = StructType(
        [
            StructField("stage", StringType()),
            StructField("n", LongType()),
            StructField("rsum", LongType()),
        ]
    )
    return spark.createDataFrame(sorted(log), schema)


@query(
    "storage_insert_or_replace",
    oracle="""
    CREATE OR REPLACE TABLE ior_t (k BIGINT PRIMARY KEY, v VARCHAR,
                                   cents BIGINT);
    INSERT INTO ior_t
      SELECT o_orderkey, o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT)
      FROM orders WHERE o_orderkey % 10 = 1;
    INSERT OR REPLACE INTO ior_t
      SELECT o_orderkey, 'R', CAST(floor(o_totalprice * 50) AS BIGINT)
      FROM orders WHERE o_orderkey % 20 = 1;
    INSERT OR IGNORE INTO ior_t
      SELECT o_orderkey, 'I', 0 FROM orders WHERE o_orderkey % 5 = 1;
    SELECT v, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(k) AS BIGINT) AS key_sum
    FROM ior_t GROUP BY v ORDER BY v
    """,
)
def storage_insert_or_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OR REPLACE / OR IGNORE through Engine.sql (reference
    physical_insert.cpp ON CONFLICT path, test/sql/insert/): BOTH
    engines run the literal statements against a PRIMARY KEY table —
    the REPLACE batch overwrites the %20 keys (cents halve, status
    'R'), the IGNORE batch appends only the %5 keys not already
    present.  The Spark side is the staged multi-key merge (anti-join
    survivors + batch, untouched files by reference, ONE manifest
    commit per statement)."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.queries.registry import (
        retained_tmpdir,
    )

    eng = Engine(spark=spark, sf_dir=sf_dir)
    base = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 1
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("v"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    root = retained_tmpdir("ior_q_")
    eng.create_versioned_table(
        "ior_t", base, root + "/t",
        constraints=[{"type": "primary_key", "columns": ["k"]}],
    )
    eng.sql(
        "INSERT OR REPLACE INTO ior_t "
        "SELECT o_orderkey, 'R', CAST(floor(o_totalprice * 50) AS BIGINT) "
        "FROM orders WHERE o_orderkey % 20 = 1"
    )
    eng.sql(
        "INSERT OR IGNORE INTO ior_t "
        "SELECT o_orderkey, 'I', 0 FROM orders WHERE o_orderkey % 5 = 1"
    )
    return eng.sql(
        "SELECT v, count(*) AS n, "
        "CAST(sum(cents) AS BIGINT) AS total_cents, "
        "CAST(sum(k) AS BIGINT) AS key_sum "
        "FROM ior_t GROUP BY v ORDER BY v"
    )


@query(
    "storage_update_from_delete_using",
    oracle="""
    CREATE OR REPLACE TABLE jfu_t AS
      SELECT o_orderkey AS k, o_custkey AS c,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus AS st
      FROM orders WHERE o_orderkey % 10 < 3;
    CREATE OR REPLACE TABLE jfu_s AS
      SELECT c_custkey AS ck,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer WHERE c_custkey % 7 = 0;
    UPDATE jfu_t SET cents = cents + jfu_s.bal_cents
      FROM jfu_s WHERE jfu_t.c = jfu_s.ck;
    DELETE FROM jfu_t USING jfu_s
      WHERE jfu_t.c = jfu_s.ck AND jfu_s.bal_cents < 0;
    SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
    FROM jfu_t GROUP BY st ORDER BY st
    """,
)
def storage_update_from_delete_using(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UPDATE ... FROM / DELETE ... USING through Engine.sql (reference
    physical_update.cpp / physical_delete.cpp over a join plan,
    test/sql/update/, test/sql/delete/): BOTH engines run the literal
    join-DML statements — a join-update adds each matching customer's
    balance (unique key, so the match is deterministic), then a
    join-delete drops orders of negative-balance customers.  The Spark
    side stages file-granular (affected files from a distributed
    semi-join on the predicate; untouched files by reference; one
    manifest commit per statement)."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.queries.registry import (
        retained_tmpdir,
    )

    eng = Engine(spark=spark, sf_dir=sf_dir)
    base = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 < 3
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderstatus").alias("st"),
    )
    src = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    ).select(
        F.col("c_custkey").alias("ck"),
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    root = retained_tmpdir("jfu_q_")
    eng.create_versioned_table("jfu_t", base, root + "/t")
    src.createOrReplaceTempView("jfu_s")
    eng.sql(
        "UPDATE jfu_t SET cents = cents + jfu_s.bal_cents "
        "FROM jfu_s WHERE jfu_t.c = jfu_s.ck"
    )
    eng.sql(
        "DELETE FROM jfu_t USING jfu_s "
        "WHERE jfu_t.c = jfu_s.ck AND jfu_s.bal_cents < 0"
    )
    return eng.sql(
        "SELECT st, count(*) AS n, "
        "CAST(sum(cents) AS BIGINT) AS total_cents "
        "FROM jfu_t GROUP BY st ORDER BY st"
    )


@query(
    "storage_export_import_roundtrip",
    oracle="""
    SELECT o_orderstatus AS st, COUNT(*) AS n,
           CAST(SUM(FLOOR(o_totalprice * 100)) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 10 < 2
    GROUP BY o_orderstatus ORDER BY st
    """,
)
def storage_export_import_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXPORT DATABASE -> IMPORT DATABASE statement roundtrip
    (reference physical_export.cpp:215, test/sql/copy/): a versioned
    table exports through Engine.sql, a FRESH engine imports the
    directory, and the aggregate over the imported view must hash-match
    the oracle computed on the source rows — proving the export wrote
    every row and the import re-registered it losslessly.  At scale the
    export is one parquet write per table (no driver materialization)
    and schema.sql is metadata-sized."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.queries.registry import (
        retained_tmpdir,
    )

    eng = Engine(spark=spark, sf_dir=sf_dir)
    base = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 < 2
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents_raw"),
    )
    root = retained_tmpdir("exp_q_")
    eng.create_versioned_table("exp_t", base, root + "/t")
    eng.sql(f"EXPORT DATABASE '{root}/dump'")
    e2 = Engine(spark=spark, register=False)
    e2.sql(f"IMPORT DATABASE '{root}/dump'")
    return e2.sql(
        "SELECT o_orderstatus AS st, count(*) AS n, "
        "CAST(sum(cents_raw) AS BIGINT) AS cents "
        "FROM exp_t GROUP BY o_orderstatus ORDER BY st"
    )

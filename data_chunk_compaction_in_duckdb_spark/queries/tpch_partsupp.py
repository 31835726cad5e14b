"""Official-text TPC-H q2/q11/q16/q20 over a derived ``partsupp``.

The driver fixture has no partsupp table, so rounds 1-2 ran documented
adaptations of the four partsupp queries.  This module closes the last
TPC-H textual delta (reference `benchmark/tpch/sf1/q02.benchmark` etc.,
query text `extension/tpch/dbgen/queries/q{02,11,16,20}.sql`): a
deterministic partsupp relation is derived from the part x supplier
fixture with dbgen's shape — 4 suppliers per part, spread across
quarters of the supplier space (dbgen's ``(ps_partkey + i*(S/4 +
(ps_partkey-1)/S)) % S`` scheme, adapted to 0-based keys with the
offsets made provably distinct) — and the four queries run the
reference's exact structure against it.  Both engines compute the same
derivation from the same parquet (pure integer arithmetic), so the
oracle check stays bit-exact at every SF; money sums use the repo's
integer-cents discipline (ps_supplycost carries an exact cents twin).

Fixture-domain literal substitutions (the fixture's value domains differ
from dbgen's text columns): '%BRASS' -> '%DARD' (STANDARD), 'GERMANY' ->
'NATION_8', 'CANADA' -> 'NATION_3', 'forest%' -> 'red%',
'Brand#45' -> 'Brand#13', 'MEDIUM POLISHED%' -> 'MEDIUM%'.  Columns the
fixture lacks (p_mfgr, s_address, s_phone, s_comment) are derived
deterministically from the keys on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_chunk_compaction_in_duckdb_spark.catalog import load_table
from data_chunk_compaction_in_duckdb_spark.queries.registry import query

# DuckDB CTE bodies replaying the derivation (prepend inside WITH).
PARTSUPP_SQL = """
    _ps0 AS (
      SELECT p_partkey,
             (p_partkey + p_partkey // _s + _i * (_s // 4)) % _s AS sk
      FROM part
      CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS _s FROM supplier) _sc
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS _i) _ii
    ),
    partsupp AS (
      SELECT p_partkey AS ps_partkey, sk AS ps_suppkey,
             CAST((p_partkey * 389 + sk * 71) % 9999 + 1 AS INT)
               AS ps_availqty,
             CAST((p_partkey * 7919 + sk * 104729) % 100000 + 1 AS BIGINT)
               AS ps_supplycost_c,
             CAST((p_partkey * 7919 + sk * 104729) % 100000 + 1 AS DOUBLE)
               / 100.0 AS ps_supplycost
      FROM _ps0
    )"""

SUPPLIER_EXT_SQL = """
    supplier_ext AS (
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
             'Address#' || CAST(s_suppkey AS VARCHAR) AS s_address,
             CAST(10 + s_nationkey AS VARCHAR) || '-'
               || CAST(s_suppkey AS VARCHAR) AS s_phone,
             CASE WHEN s_suppkey % 13 = 0
                  THEN 'Customer feedback Complaints filed'
                  ELSE 'steady supplier' END AS s_comment
      FROM supplier
    )"""


def partsupp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of PARTSUPP_SQL: 4 deterministic suppliers per part
    (offsets 0, S//4, 2*S//4, 3*S//4 are distinct mod S for any S >= 4,
    so every part genuinely has 4 distinct suppliers), availqty and
    supplycost as pure integer arithmetic over the keys.  A narrow
    4x fan-out of the part scan — no shuffle, broadcast-joinable."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    s_count = (
        load_table(spark, sf_dir, "supplier")
        .groupBy()
        .agg(F.count("*").cast("long").alias("_s"))
    )
    ps0 = part.crossJoin(F.broadcast(s_count)).select(
        "p_partkey",
        "_s",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("_i"),
    )
    sk = (
        F.col("p_partkey")
        + F.expr("p_partkey div _s")
        + F.col("_i") * F.expr("_s div 4")
    ) % F.col("_s")
    base = ps0.select(
        F.col("p_partkey").alias("ps_partkey"), sk.alias("ps_suppkey")
    )
    cost_c = (
        F.col("ps_partkey") * 7919 + F.col("ps_suppkey") * 104729
    ) % 100000 + 1
    return base.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 389 + F.col("ps_suppkey") * 71) % 9999 + 1)
        .cast("int")
        .alias("ps_availqty"),
        cost_c.cast("long").alias("ps_supplycost_c"),
        (cost_c.cast("double") / 100.0).alias("ps_supplycost"),
    )


def supplier_ext_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of SUPPLIER_EXT_SQL (address/phone/comment derived
    from the keys — the columns the fixture lacks for official q2/q16)."""
    supp = load_table(spark, sf_dir, "supplier")
    return supp.select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        "s_acctbal",
        F.concat(F.lit("Address#"), F.col("s_suppkey").cast("string")).alias(
            "s_address"
        ),
        F.concat(
            (F.col("s_nationkey") + 10).cast("string"),
            F.lit("-"),
            F.col("s_suppkey").cast("string"),
        ).alias("s_phone"),
        F.when(
            F.col("s_suppkey") % 13 == 0,
            F.lit("Customer feedback Complaints filed"),
        )
        .otherwise(F.lit("steady supplier"))
        .alias("s_comment"),
    )


@query(
    "tpch_q2_official",
    oracle=f"""
    WITH {PARTSUPP_SQL.strip()},
    {SUPPLIER_EXT_SQL.strip()}
    SELECT s_acctbal, s_name, n_name, p_partkey,
           'Manufacturer#' || CAST(1 + p_partkey % 5 AS VARCHAR) AS p_mfgr,
           s_address, s_phone, s_comment
    FROM part,
         supplier_ext,
         partsupp,
         nation,
         region
    WHERE p_partkey = ps_partkey
      AND s_suppkey = ps_suppkey
      AND p_size = 15
      AND p_type LIKE '%DARD'
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT min(ps_supplycost)
        FROM partsupp, supplier_ext, nation, region
        WHERE p_partkey = ps_partkey
          AND s_suppkey = ps_suppkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2_official(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Official TPC-H Q2 (dbgen/queries/q02.sql) over derived partsupp:
    minimum-cost supplier per part in a region, correlated-MIN subquery.
    Spark plan: the EUROPE-side partsupp is computed once, its per-part
    MIN is a map-side-combine aggregate on the same relation (no second
    scan of any fact), equality on the exact cents twin, dims broadcast.
    The ORDER BY ... LIMIT 100 cutoff is total (s_name unique, p_partkey
    tie-terminated), so the top-100 is deterministic on both engines."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & F.col("p_type").like("%DARD")
    )
    supp = supplier_ext_df(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    ps = partsupp_df(spark, sf_dir)
    # supplier and the per-part MIN grow with SF: no forced broadcast —
    # AQE broadcasts at fixture scale and degrades to shuffle joins at
    # 100 TB; only the fixed dims (nation/region) are hinted.
    eur = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        # Materialize ONCE: eur feeds both the per-part MIN and the final
        # join, and without this the whole partsupp ⋈ supplier ⋈ nation ⋈
        # region subtree executes twice (guide §2.4 — plan audit showed
        # supplier scanned 4×, part 3×).  localCheckpoint (not persist):
        # per-instance, so every bench rep recomputes from parquet — no
        # cross-run cache — while both consumers share one computation.
        # eager=False (r10): the materialization happens inside the first
        # consuming job instead of a separate blocking driver job — the
        # r9 driver bench showed the eager form regressing at 32 slots
        # while the 8-core control improved, and the r10 interleaved A/B
        # (OPTIMIZATION_r10.md §1, 3 runs) has lazy <= eager throughout.
        .localCheckpoint(eager=False)
    )
    min_cost = eur.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_c").alias("_min_c")
    )
    return (
        eur.join(min_cost, "ps_partkey")
        .filter(F.col("ps_supplycost_c") == F.col("_min_c"))
        .join(part, F.col("ps_partkey") == part.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.concat(
                F.lit("Manufacturer#"),
                (F.col("p_partkey") % 5 + 1).cast("string"),
            ).alias("p_mfgr"),
            "s_address",
            "s_phone",
            "s_comment",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "tpch_q11_official",
    oracle=f"""
    WITH {PARTSUPP_SQL.strip()}
    SELECT ps_partkey,
           CAST(SUM(ps_supplycost_c * ps_availqty) AS BIGINT) / 100.0
             AS value
    FROM partsupp, supplier, nation
    WHERE ps_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_8'
    GROUP BY ps_partkey
    HAVING CAST(SUM(ps_supplycost_c * ps_availqty) AS BIGINT) > (
      SELECT CAST(SUM(ps_supplycost_c * ps_availqty) AS BIGINT)
             * 0.0001000000
      FROM partsupp, supplier, nation
      WHERE ps_suppkey = s_suppkey
        AND s_nationkey = n_nationkey
        AND n_name = 'NATION_8')
    ORDER BY value DESC
    """,
)
def tpch_q11_official(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Official TPC-H Q11 (dbgen/queries/q11.sql): per-part inventory
    value within one nation, HAVING against a fraction of the grand
    total.  Sums run on the exact cents twin (BIGINT) so partial-merge
    order can't flip a bit; the single-nation partsupp slice is computed
    once and reused for both the per-part sums and the grand total
    (sum-of-sums — no second scan)."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_8"
    )
    ps = partsupp_df(spark, sf_dir)
    # the one-nation supplier slice grows with SF — nation (fixed dim)
    # is hinted, the slice join is AQE's choice
    sliced = ps.join(
        supp.join(
            F.broadcast(nation),
            supp.s_nationkey == nation.n_nationkey,
        ).select("s_suppkey"),
        ps.ps_suppkey == F.col("s_suppkey"),
    )
    per_part = sliced.groupBy("ps_partkey").agg(
        F.sum(F.col("ps_supplycost_c") * F.col("ps_availqty"))
        .cast("long")
        .alias("_value_c")
        # Materialize ONCE (guide §2.4): per_part feeds both the HAVING
        # threshold (grand total) and the output rows; without this the
        # partsupp ⋈ supplier-slice aggregation ran twice (plan audit:
        # supplier scanned 4×).  localCheckpoint, not persist — every
        # bench rep recomputes (no cross-run cache reuse).  eager=False:
        # no separate blocking job (see tpch_q2_official's note).
    ).localCheckpoint(eager=False)
    total = per_part.groupBy().agg(
        (F.sum("_value_c").cast("long").cast("double") * F.lit(0.0001)).alias(
            "_thresh"
        )
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_value_c") > F.col("_thresh"))
        .select(
            "ps_partkey", (F.col("_value_c") / 100.0).alias("value")
        )
        .orderBy(F.col("value").desc())
    )


@query(
    "tpch_q16_official",
    oracle=f"""
    WITH {PARTSUPP_SQL.strip()},
    {SUPPLIER_EXT_SQL.strip()}
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp, part
    WHERE p_partkey = ps_partkey
      AND p_brand <> 'Brand#13'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
      AND ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier_ext
        WHERE s_comment LIKE '%Customer%Complaints%')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_official(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Official TPC-H Q16 (dbgen/queries/q16.sql): distinct supplier
    counts per part attribute triple, excluding complained-about
    suppliers via NOT IN (anti-join — keys are non-null so the 3VL trap
    is moot).  Plan: the tiny excluded-supplier set anti-joins before
    the distinct aggregation; part dim broadcast."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9)
    )
    supp = supplier_ext_df(spark, sf_dir)
    complained = supp.filter(
        F.col("s_comment").like("%Customer%Complaints%")
    ).select("s_suppkey")
    ps = partsupp_df(spark, sf_dir)
    return (
        # part and the complained-supplier slice grow with SF — AQE picks
        # broadcast at fixture scale, shuffle at 100 TB
        ps.join(
            complained,
            ps.ps_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .join(part, ps.ps_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@query(
    "tpch_q20_official",
    oracle=f"""
    WITH {PARTSUPP_SQL.strip()},
    {SUPPLIER_EXT_SQL.strip()}
    SELECT s_name, s_address
    FROM supplier_ext, nation
    WHERE s_suppkey IN (
        SELECT ps_suppkey
        FROM partsupp
        WHERE ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND CAST(ps_availqty AS BIGINT) * 200 > (
            SELECT COALESCE(CAST(SUM(CAST(ROUND(l_quantity * 100)
                                          AS BIGINT)) AS BIGINT), 0)
            FROM lineitem
            WHERE l_partkey = ps_partkey
              AND l_suppkey = ps_suppkey
              AND l_shipdate >= TIMESTAMP '1994-01-01'
              AND l_shipdate <  TIMESTAMP '1995-01-01'))
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
    ORDER BY s_name
    """,
)
def tpch_q20_official(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Official TPC-H Q20 (dbgen/queries/q20.sql): suppliers in one
    nation holding excess stock of 'red%' parts — nested IN subqueries
    with a correlated half-of-shipped-quantity threshold.  The official
    ``ps_availqty > 0.5 * sum(l_quantity)`` is evaluated as the exact
    integer cross-multiplication ``availqty * 200 > sum(quantity_cents)``
    so no float sum can flip the cut.  Plan: the correlated scalar
    becomes one (partkey, suppkey) aggregate of the date-sliced fact,
    LEFT-joined (missing pair = zero shipped, matching the COALESCE in
    the oracle), then two semi joins."""
    part_red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1994-01-01")
        & (F.col("l_shipdate") < "1995-01-01")
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
        .cast("long")
        .alias("_qty_c")
    )
    ps = partsupp_df(spark, sf_dir)
    excess = (
        # the red-part key set grows with SF — semi join, AQE-chosen side
        ps.join(
            part_red, ps.ps_partkey == F.col("p_partkey"), "left_semi"
        )
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
            "left",
        )
        .filter(
            F.col("ps_availqty").cast("long") * 200
            > F.coalesce(F.col("_qty_c"), F.lit(0))
        )
        .select("ps_suppkey")
        .distinct()
    )
    supp = supplier_ext_df(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    return (
        supp.join(
            F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
        )
        .join(
            excess,
            supp.s_suppkey == F.col("ps_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_address")
        .orderBy("s_name")
    )

"""Oracle-parity + inventory tests for the LDBC SNB corpus
(ldbc_like.py — all 31 reference benchmark/ldbc queries)."""

from __future__ import annotations

import pytest

from tests.oracle_compare import assert_query_matches_oracle

_EXPECTED = (
    {f"ldbc_is{i:02d}" for i in range(1, 8)}
    | {f"ldbc_ic{i:02d}" for i in range(2, 13)}
    | {f"ldbc_bi{i:02d}" for i in range(1, 12)}
    | {"ldbc_bi13", "ldbc_bi14"}
)


def _names():
    from data_chunk_compaction_in_duckdb_spark.queries import (
        REGISTRY,
        ldbc_like,
    )

    return [
        n
        for n, q in REGISTRY.items()
        if q.builder.__module__ == ldbc_like.__name__
    ]


def test_ldbc_inventory_is_complete():
    # 31 queries: the full reference set (bi-12 does not exist there).
    assert set(_names()) == _EXPECTED


def test_knows_graph_contains_triangles(duck, sf_dir):
    # bi-11 counts friend triangles; the (+1, +7, +8) edge offsets were
    # chosen so 1 + 7 = 8 closes cycles — pin that structural property.
    n = duck.execute(
        f"""
        WITH c AS (SELECT c_custkey AS k
                   FROM read_parquet('{sf_dir}/customer.parquet')),
        e AS (SELECT a.k AS x, b.k AS y FROM c a JOIN c b
              ON b.k - a.k IN (1, 7, 8) OR a.k - b.k IN (1, 7, 8))
        SELECT COUNT(*) FROM e e1 JOIN e e2 ON e1.y = e2.x
        JOIN e e3 ON e2.y = e3.x AND e3.y = e1.x
        WHERE e1.x < e2.x AND e2.x < e3.x
        """
    ).fetchone()[0]
    assert n > 0


@pytest.mark.parametrize("name", _names())
def test_ldbc_query_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


def test_snb_spark_dedup_noop(spark, sf_dir):
    """The r10 Spark-side SNB text drops snb_message_tag's DISTINCT and
    snb_person_tag's bare UNION on a number-theoretic proof (branches
    cannot collide mod 100) whose one data assumption is key uniqueness.
    Pin the assumption AND the conclusion: event_id / c_custkey are
    unique, and the relaxed CTEs are row-multiset-identical to the
    originals."""
    from data_chunk_compaction_in_duckdb_spark.catalog import register_views
    from data_chunk_compaction_in_duckdb_spark.queries.ldbc_like import (
        _SNB,
        _SNB_SPARK,
    )

    register_views(spark, sf_dir)
    for table, key in (("events", "event_id"), ("customer", "c_custkey")):
        dup = spark.sql(
            f"SELECT COUNT(*) - COUNT(DISTINCT {key}) FROM {table}"
        ).collect()[0][0]
        assert dup == 0, (table, key, dup)
    for cte in ("snb_message_tag", "snb_person_tag"):
        a = sorted(
            map(tuple, spark.sql(f"WITH {_SNB} SELECT * FROM {cte}").collect())
        )
        b = sorted(
            map(
                tuple,
                spark.sql(f"WITH {_SNB_SPARK} SELECT * FROM {cte}").collect(),
            )
        )
        assert a == b, cte


def test_snb_place_explode_equivalent(spark, sf_dir):
    """The r10 Spark-side snb_place derives its ten city digits with
    LATERAL VIEW explode(sequence(0, 9)) instead of the oracle text's
    CROSS JOIN against a 10-row UNION ALL (same values, but a Generate
    node instead of a BroadcastNestedLoopJoin build per reference).
    Pin the row-multiset equivalence."""
    from data_chunk_compaction_in_duckdb_spark.catalog import register_views
    from data_chunk_compaction_in_duckdb_spark.queries.ldbc_like import (
        _SNB,
        _SNB_SPARK,
    )

    assert "LATERAL VIEW explode" in _SNB_SPARK
    register_views(spark, sf_dir)
    a = sorted(
        map(tuple, spark.sql(f"WITH {_SNB} SELECT * FROM snb_place").collect())
    )
    b = sorted(
        map(
            tuple,
            spark.sql(f"WITH {_SNB_SPARK} SELECT * FROM snb_place").collect(),
        )
    )
    assert a == b


def test_snb_spark_guard_fires_when_a_rewrite_missed():
    """The guard on the Spark-side SNB text is an explicit raise, not an
    ``assert`` that ``python -O`` strips: text on which one of the three
    rewrites did not apply is refused, the rewritten text passes."""
    import pytest

    from data_chunk_compaction_in_duckdb_spark.queries.ldbc_like import (
        _SNB,
        _SNB_SPARK,
        _check_snb_spark,
    )

    assert _check_snb_spark(_SNB_SPARK, _SNB) == _SNB_SPARK
    with pytest.raises(ValueError, match="DISTINCT"):
        _check_snb_spark(_SNB, _SNB)
    union_kept = _SNB_SPARK.replace("\n  UNION ALL\n", "\n  UNION\n")
    with pytest.raises(ValueError, match="UNION"):
        _check_snb_spark(union_kept, _SNB)
    cross_join_kept = _SNB_SPARK.replace("LATERAL VIEW explode", "CROSS JOIN")
    with pytest.raises(ValueError, match="CROSS JOIN"):
        _check_snb_spark(cross_join_kept, _SNB)


def test_bi10_knows_broadcast_guard(spark, sf_dir, monkeypatch):
    """bi10's hop joins broadcast the knows edge table once (build shared
    by all four hops) when the customer SCAN estimate is under the cap,
    else fall back to broadcasting the structurally bounded frontier.
    Pin that (a) the fixture takes the knows-broadcast path, and (b) the
    two paths return the identical row multiset."""
    import data_chunk_compaction_in_duckdb_spark.queries.ldbc_like as L

    L.register_views(spark, sf_dir)
    n = int(
        spark.table("customer")
        ._jdf.queryExecution()
        .optimizedPlan()
        .stats()
        .sizeInBytes()
    )
    assert n <= L._BI10_KNOWS_BROADCAST_CUSTOMER_BYTES  # (a)

    fast = sorted(map(tuple, L._bi10_builder(spark, sf_dir).collect()))
    monkeypatch.setattr(L, "_BI10_KNOWS_BROADCAST_CUSTOMER_BYTES", 0)
    slow = sorted(map(tuple, L._bi10_builder(spark, sf_dir).collect()))
    assert fast == slow  # (b)


def test_bi10_tail_dedup_noop(spark, sf_dir):
    """The r10 Spark-side bi10 tail drops friend_list's and
    messages_of_tagclass_by_friends' DISTINCTs on uniqueness proofs
    (group-min'd friends, key-lookup dims, at most one Class_3 tag per
    message).  Pin the conclusion: running the tail CTEs with DISTINCT
    restored yields the identical row multiset."""
    from data_chunk_compaction_in_duckdb_spark.queries.ldbc_like import (
        _BI10_TAIL,
        _SNB_SPARK,
        _bi10_builder,
    )

    # builder side effect: registers __ldbc_bi10_friends_shortest
    relaxed = _bi10_builder(spark, sf_dir)
    strict_tail = _BI10_TAIL.replace(
        "SELECT f.friend AS friendid", "SELECT DISTINCT f.friend AS friendid"
    ).replace(
        "SELECT f.friendid, m.m_messageid AS messageid",
        "SELECT DISTINCT f.friendid, m.m_messageid AS messageid",
    )
    assert strict_tail.count("DISTINCT") == _BI10_TAIL.count("DISTINCT") + 2
    strict = spark.sql(f"WITH {_SNB_SPARK},\n{strict_tail}")
    a = sorted(map(tuple, relaxed.collect()))
    b = sorted(map(tuple, strict.collect()))
    assert a == b

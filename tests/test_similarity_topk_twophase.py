"""topk_per_query (partial top-k per partition + exact merge window)
must return the identical row set as the single-window form, including
on NULL / NaN scores and ties — and its plan must not funnel the full
pair stream into one task per query."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
    topk_per_query,
)


def _rows():
    rows = []
    # 3 queries x 40 matches with duplicate scores to force tie-breaks
    for q in ("q1", "q2", "q3"):
        for m in range(40):
            rows.append((q, f"m{m:03d}", float(m % 7) / 10.0))
    # degenerate scores
    rows.append(("q1", "zz_null", None))
    rows.append(("q2", "zz_null", None))
    rows.append(("q1", "aa_nan", float("nan")))
    rows.append(("q3", "aa_nan", float("nan")))
    return rows


def _key(r):
    c = r["s"]
    return (r["query_id"], r["match_id"], "nan" if (c is not None and math.isnan(c)) else c)


@pytest.fixture(scope="module")
def scored(spark):
    return spark.createDataFrame(
        _rows(), "query_id string, match_id string, s double"
    ).repartition(7)  # several partitions so the partial phase is real


@pytest.mark.parametrize("ascending", [False, True])
@pytest.mark.parametrize("k", [1, 5, 45])
def test_two_phase_equals_single_window(spark, scored, ascending, k):
    order = F.col("s").asc() if ascending else F.col("s").desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("match_id"))
    expected = {
        _key(r)
        for r in scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .collect()
    }
    got = {
        _key(r)
        for r in topk_per_query(
            scored, k, value_col="s", ascending=ascending
        ).collect()
    }
    assert got == expected


def test_partial_phase_precedes_merge_window(spark, scored):
    """The merge window's exchange must consume the Arrow partial
    top-k's output, not the raw pair stream — i.e. the plan contains a
    MapInArrow below the window exchange (bounded task input per query
    at any corpus size)."""
    df = topk_per_query(scored, 3, value_col="s")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan, plan
    win_pos = plan.find("Window")
    arrow_pos = max(plan.find("MapInArrow"), plan.find("ArrowEvalPython"))
    # physical plans print top-down: the consumer (Window) appears
    # before its child (the Arrow partial)
    assert 0 <= win_pos < arrow_pos, plan[:2000]


def test_topk_similar_matches_python_reference(spark):
    """The fused Arrow brute-force kernel returns exactly the rows of a
    plain-Python top-k — left-fold dots, ``math.sqrt`` norms, order
    (NaN first, cosine desc, NULL last, match_id) — bit-for-bit, on
    double and float32 vectors.  A NaN-element corpus vector has a NaN
    cosine against every query, kept and ranked first."""
    import random
    import struct as _struct

    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        topk_similar,
    )

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    rows.append((200, [float("nan")] + [1.0] * 15))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
        return None if den == 0.0 else dot(a, b) / den

    def rank(c, mid):
        if c is None:
            return (2, 0.0, mid)
        return (0, 0.0, mid) if math.isnan(c) else (1, -c, mid)

    def key(q, m, c):
        if c is None:
            return (q, m, None)
        return (q, m, "nan" if math.isnan(c) else _struct.pack("<d", c))

    for cast in (None, "array<float>"):
        c = emb if cast is None else emb.withColumn(
            "embedding", F.col("embedding").cast(cast)
        )
        q = c.filter(F.col("vec_id") % 13 == 0)
        vecs = {r[0]: [float(x) for x in r[1]] for r in c.collect()}
        want = set()
        for qid in [i for i in vecs if i % 13 == 0]:
            scored = [(cos(vecs[qid], vecs[m]), m) for m in vecs if m != qid]
            for cv, m in sorted(scored, key=lambda t: rank(*t))[:5]:
                want.add(key(qid, m, cv))
        got = {
            key(r.query_id, r.match_id, r.cosine)
            for r in topk_similar(c, q, "vec_id", "embedding", k=5).collect()
        }
        assert got == want and len(got) == 80, cast
        assert {m for (qid, m, cv) in got if cv == "nan"} == {200}


def test_topk_similar_kernel_zero_norm_yields_null(spark):
    """Zero-norm corpus vectors produce NULL cosine in the Arrow kernel
    (DuckDB's x/0.0 and the IVF kernels' convention; an ANSI ``/``
    would raise instead — the fixture domain has no zero vectors)."""
    from pyspark.sql import functions as F

    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        topk_similar,
    )

    rows = [(0, [1.0, 2.0]), (1, [2.0, 1.0]), (2, [0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = topk_similar(
        emb, emb.filter("vec_id = 0"), "vec_id", "embedding", k=5
    ).collect()
    got = {r.match_id: r.cosine for r in out}
    assert got[2] is None and got[1] is not None

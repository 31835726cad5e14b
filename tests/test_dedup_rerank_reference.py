"""semantic_ivf_neardup_pairs and its cell-assignment kernel against a
plain-Python reference: left-fold dot loops, ``math.sqrt`` norms and
cells ranked by ``(isnan(dot), -dot, idx)``.  Cosines compare
bit-exactly (``struct.pack``; every NaN is one key).

Pinned degenerate semantics (the DuckDB oracle's x/0.0 -> NULL and
NaN-greatest order):

- zero-norm vector -> denominator 0 -> NULL cosine -> pair DROPPED;
- NaN element (nonzero norm) -> NaN cosine -> ordered above every
  double, so ``cosine >= threshold`` KEEPS the pair;
- dot ties (a zero vector ties every centroid) go to the lowest
  centroid index."""

from __future__ import annotations

import math
import struct
from itertools import combinations

import pytest

from data_chunk_compaction_in_duckdb_spark.pipeline.dedup import (
    _assign_cells_arrow,
    semantic_ivf_neardup_pairs,
)
from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import _centroid

DIM = 8
N_CLUSTERS = 4
N_ASSIGN = 2
THRESHOLD = 0.9
ZERO, NAN_ROW = 300, 301


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, emb array<double>")


def _rows():
    base = [float(i % 3 + 1) for i in range(DIM)]
    rows = []
    for i in range(24):
        rows.append((i, [x + 0.001 * (i % 5) for x in base]))
    rows.append((100, list(base)))  # near-identical pair
    rows.append((101, [x + 1e-9 for x in base]))
    rows.append((200, [1.0] + [0.0] * (DIM - 1)))  # orthogonal-ish outlier
    return rows


BAD = [
    (ZERO, [0.0] * DIM),  # zero norm -> NULL cosine -> dropped
    (NAN_ROW, [float("nan")] + [1.0] * (DIM - 1)),  # NaN -> kept
]


def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _ref_cells(v, cents, n_assign):
    dots = [_dot(v, c) for c in cents]
    key = [
        (math.isnan(d), 0.0 if math.isnan(d) else -d, i)
        for i, d in enumerate(dots)
    ]
    return [i for (_, _, i) in sorted(key)[:n_assign]]


def _ref_cosine(a, b):
    den = math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b))
    if den == 0.0:
        return None
    return _dot(a, b) / den


def _bits(c):
    # NULL and NaN stay distinct; NaN payload bits carry no meaning
    if c is None:
        return None
    return "nan" if math.isnan(c) else struct.pack("<d", c)


def _ref_pairs(rows):
    cents = [_centroid(DIM, i) for i in range(N_CLUSTERS)]
    cells = {i: set(_ref_cells(v, cents, N_ASSIGN)) for i, v in rows}
    vecs = dict(rows)
    out = set()
    for a, b in combinations(sorted(vecs), 2):
        if not cells[a] & cells[b]:
            continue
        c = _ref_cosine(vecs[a], vecs[b])
        if c is not None and (math.isnan(c) or c >= THRESHOLD):
            out.add((a, b, _bits(c)))
    return out


def _pairs(df):
    return {(r["id_a"], r["id_b"], _bits(r["cosine"])) for r in df.collect()}


def _run(df):
    return semantic_ivf_neardup_pairs(
        df, "id", "emb", DIM, n_clusters=N_CLUSTERS, n_assign=N_ASSIGN,
        threshold=THRESHOLD,
    )


@pytest.fixture(scope="module")
def emb(spark):
    return _mk(spark, _rows())


def test_pairs_match_python_reference(spark, emb):
    got = _pairs(_run(emb))
    assert got == _ref_pairs(_rows())
    assert (100, 101) in {(a, b) for a, b, _ in got}, (
        "the near-identical pair must be found"
    )


def test_assignment_matches_python_reference(spark):
    """The Arrow cell-assignment kernel picks the reference's cells with
    and without the carried vector, on the clean fixture plus a
    NaN-element vector (NaN dots rank last) and a zero vector (every
    dot ties, so the lowest centroids win); the pair sets built on those
    cells match too."""
    rows = _rows() + BAD
    full = _mk(spark, rows)
    cents = [_centroid(DIM, i) for i in range(N_CLUSTERS)]
    want = {i: sorted(_ref_cells(v, cents, N_ASSIGN)) for i, v in rows}
    assert want[ZERO] == [0, 1]
    for carry in (False, True):
        out = _assign_cells_arrow(
            full, "id", "emb", cents, N_ASSIGN, carry=carry
        ).collect()
        got: dict[int, list[int]] = {}
        for r in out:
            got.setdefault(r["_id"], []).append(r["_cell"])
        assert {i: sorted(c) for i, c in got.items()} == want, carry
        if carry:
            vecs = dict(rows)
            for r in out:
                assert [_bits(x) for x in r["_v"]] == [
                    _bits(x) for x in vecs[r["_id"]]
                ]
        else:
            assert "_v" not in out[0].asDict()
    assert _pairs(_run(full)) == _ref_pairs(rows)


def test_degenerate_pairs_match_python_reference(spark):
    rows = _rows() + BAD
    got = _pairs(_run(_mk(spark, rows)))
    assert got == _ref_pairs(rows)
    assert any(b == "nan" for _, _, b in got), (
        "the NaN-element vector must surface at least one kept "
        "NaN-cosine pair"
    )
    # zero x NaN is a NaN denominator, not 0, so that pair stays kept
    assert not any(
        ZERO in (a, b) and NAN_ROW not in (a, b) for a, b, _ in got
    ), "zero-norm pairs have a 0 denominator -> NULL cosine -> dropped"
    assert all(b is not None for _, _, b in got)

from __future__ import annotations

import numpy as np

from perfbench.serving_model import OrdersModel, Write, write_stream, zipf_keys


def _model():
    rows = {k: (k, 100 + k, "F", 10.25 * k) for k in range(1, 6)}
    return OrdersModel(rows), rows


def test_apply_tracks_state_count_and_checksums():
    model, rows = _model()
    n0, k0, c0 = model.totals()
    assert (n0, k0) == (5, 15)
    model.apply(Write("update", 2, price=99.99))
    model.apply(Write("delete", 3))
    model.apply(Write("insert", 9, custkey=7, price=1.5))
    model.apply(Write("delete", 3))  # already gone: no change
    model.apply(Write("update", 3, price=5.0))  # deleted key: no change
    assert model.version == 5
    assert model.current(2) == (2, 102, "F", 99.99)
    assert model.current(3) is None
    assert model.current(9) == (9, 7, "O", 1.5)
    n, k, c = model.totals()
    assert (n, k) == (5, 15 - 3 + 9)
    assert c == c0 - round(rows[2][3] * 100) + 9999 - round(rows[3][3] * 100) + 150


def test_possible_states_cover_the_read_window():
    model, rows = _model()
    model.apply(Write("update", 1, price=1.0))   # v1
    model.apply(Write("update", 2, price=2.0))   # v2
    model.apply(Write("update", 1, price=3.0))   # v3
    assert model.possible(1, 0, 0) == [rows[1]]
    assert model.possible(1, 0, 1) == [rows[1], (1, 101, "F", 1.0)]
    assert model.possible(1, 1, 2) == [(1, 101, "F", 1.0)]
    assert model.possible(1, 2, 4) == [(1, 101, "F", 1.0), (1, 101, "F", 3.0)]
    assert model.possible(4, 0, 3) == [rows[4]]
    assert model.possible(42, 0, 3) == [None]


def test_write_stream_is_seeded_and_inserts_fresh_keys():
    keys = np.arange(1000, dtype=np.int64)
    hot = np.random.default_rng(0).permutation(keys)
    a = write_stream(np.random.default_rng(7), hot, 50, 200)
    b = write_stream(np.random.default_rng(7), hot, 50, 200)
    assert a == b
    inserts = [w.key for w in a if w.verb == "insert"]
    assert inserts == list(range(1000, 1000 + len(inserts)))
    assert {w.verb for w in a} == {"insert", "update", "delete"}
    assert all(w.key in set(keys.tolist()) for w in a if w.verb != "insert")


def test_zipf_keys_skew_toward_the_head_of_the_permutation():
    hot = np.random.default_rng(1).permutation(np.arange(500, dtype=np.int64))
    draws = zipf_keys(np.random.default_rng(2), hot, 5000)
    counts = {k: draws.count(k) for k in set(draws)}
    top = max(counts, key=counts.get)
    assert top == int(hot[0])
    assert counts[top] > 5000 / 500 * 10


def test_write_sql_matches_the_engine_dml_surface():
    assert Write("update", 4, price=12.5).sql("t") == (
        "UPDATE t SET o_totalprice = CAST(12.50 AS DOUBLE) WHERE o_orderkey = 4"
    )
    assert Write("delete", 4).sql("t") == "DELETE FROM t WHERE o_orderkey = 4"
    assert Write("insert", 8, custkey=3, price=1.0).sql("t").startswith(
        "INSERT INTO t VALUES (8, 3, 'O', CAST(1.00 AS DOUBLE), TIMESTAMP"
    )

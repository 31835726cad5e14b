"""The ``serving_rw`` writer's seeded statement stream and the model of
the versioned ``orders_v`` table it mutates.

The model is the expected state: after every committed statement it
advances one logical version, remembers each touched key's history, and
keeps the row count and checksums the final check compares against.
Reads that race the writer are checked against the window of versions
that were current while the read ran.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

import numpy as np

# (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
Row = tuple[int, int, str, float]

INSERT_DATE = "1998-08-01 00:00:00"
INSERT_PRIORITY = "3-MEDIUM"


def zipf_keys(rng: np.random.Generator, hot: np.ndarray, size: int, s: float = 1.1) -> list[int]:
    """``size`` draws from ``hot`` with Zipf(``s``) skew by position: the
    caller passes a seeded permutation of the keys, so the hot keys
    differ per seed rather than always being the lowest ids."""
    ranks = np.arange(1, len(hot) + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    return [int(k) for k in hot[rng.choice(len(hot), size=size, p=p)]]


@dataclass(frozen=True)
class Write:
    verb: str  # insert | update | delete
    key: int
    custkey: int = 0
    price: float = 0.0

    def sql(self, table: str) -> str:
        if self.verb == "insert":
            return (
                f"INSERT INTO {table} VALUES ({self.key}, {self.custkey}, 'O', "
                f"CAST({self.price:.2f} AS DOUBLE), TIMESTAMP '{INSERT_DATE}', "
                f"'{INSERT_PRIORITY}')"
            )
        if self.verb == "update":
            return (
                f"UPDATE {table} SET o_totalprice = CAST({self.price:.2f} AS DOUBLE) "
                f"WHERE o_orderkey = {self.key}"
            )
        return f"DELETE FROM {table} WHERE o_orderkey = {self.key}"


def write_stream(rng: np.random.Generator, hot: np.ndarray, n_cust: int, n: int) -> list[Write]:
    """``n`` seeded statements: 40% UPDATE and 30% DELETE of Zipf-hot
    existing keys (drawn from the permutation ``hot``), 30% INSERT of
    fresh keys above the current maximum."""
    targets = zipf_keys(rng, hot, n)
    next_key = int(hot.max()) + 1
    out = []
    for i in range(n):
        u = rng.random()
        price = round(float(rng.uniform(1000, 500000)), 2)
        if u < 0.3:
            out.append(Write("insert", next_key, int(rng.integers(0, n_cust)), price))
            next_key += 1
        elif u < 0.7:
            out.append(Write("update", targets[i], price=price))
        else:
            out.append(Write("delete", targets[i]))
    return out


def _cents(price: float) -> int:
    return int(round(price * 100))


class OrdersModel:
    """Expected contents of ``orders_v``; thread-safe."""

    def __init__(self, rows: dict[int, Row]) -> None:
        self._base = rows
        self._history: dict[int, list[tuple[int, Row | None]]] = {}
        self.version = 0
        self.count = len(rows)
        self.key_sum = sum(rows)
        self.cents_sum = sum(_cents(r[3]) for r in rows.values())
        self._lock = threading.Lock()

    def _current(self, key: int) -> Row | None:
        h = self._history.get(key)
        return h[-1][1] if h else self._base.get(key)

    def apply(self, w: Write) -> None:
        """Record that ``w`` committed."""
        with self._lock:
            old = self._current(w.key)
            if w.verb == "insert":
                new = (w.key, w.custkey, "O", w.price)
            elif w.verb == "update":
                new = None if old is None else (old[0], old[1], old[2], w.price)
            else:
                new = None
            self.version += 1
            if old != new:
                self._history.setdefault(w.key, []).append((self.version, new))
            if old is not None:
                self.count -= 1
                self.key_sum -= old[0]
                self.cents_sum -= _cents(old[3])
            if new is not None:
                self.count += 1
                self.key_sum += new[0]
                self.cents_sum += _cents(new[3])

    def current(self, key: int) -> Row | None:
        with self._lock:
            return self._current(key)

    def possible(self, key: int, v_lo: int, v_hi: int) -> list[Row | None]:
        """Every state of ``key`` current at some version in
        ``[v_lo, v_hi]``."""
        with self._lock:
            states = [self._base.get(key)]
            for v, row in self._history.get(key, []):
                if v <= v_lo:
                    states = [row]
                elif v <= v_hi:
                    states.append(row)
            return states

    def totals(self) -> tuple[int, int, int]:
        with self._lock:
            return self.count, self.key_sum, self.cents_sum

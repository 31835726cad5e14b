"""``serving_rw``: four closed-loop clients at sf0.1 — three readers and
one writer, threads of one driver process sharing one ``Engine``.

Readers send parameterized point and short-range SELECTs with Zipf-skewed
keys: customer point lookups and orders-by-customer ranges through
``Engine.sql(..., k=...)`` over the fixture views, and order lookups on
the versioned table ``orders_v`` through a prepared statement
(``EXECUTE get_order(k)``).  Each read touches a row or a handful, so its
time is per-statement fixed cost.  The writer sends seeded
INSERT/UPDATE/DELETE statements through ``Engine.sql`` on ``orders_v``
(created from ``orders`` during set-up) and calls
``VersionedTable.checkpoint()`` every ``CHECKPOINT_EVERY`` commits, which
puts the storage commit path beside the reads.

Every read is checked against the fixtures or the writer's model, every
write is followed by a read-your-writes check, and the table's final
count and checksums are compared with the model — all outside the timed
region.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import fixtures
from perfbench.harness import Context, Runner, end_to_end, measure, result, set_up
from perfbench.layers import record_plan
from perfbench.serving_model import OrdersModel, write_stream, zipf_keys
from perfbench.stats import latency_summary
from perfbench.trace import NullTracer

SF = 0.1
SMOKE_SF = 0.01
# Each set-up is faster than the last while the JVM warms, so the median
# of three still moved between runs; five steady it.
SETUP_REPS = 5
READERS = 3
# Ops per client per second of --seconds on a 4-core host: a run is a
# fixed op count, so the table reaches the same state on every run.  The
# two rates make the writer (statement, read-your-writes check, periodic
# checkpoint) finish about when the readers do.
READS_PER_S = 4.0
WRITES_PER_S = 0.9
CHECKPOINT_EVERY = 4
# The untimed warm-up pass runs all four clients concurrently: reads per
# reader, and writes (one checkpoint's worth, so the checkpoint path is
# warm too).  Without it the first writes of the timed pass take 3-5x
# their steady time.
WARM_READS = 10
WARM_WRITES = CHECKPOINT_EVERY
TABLE = "orders_v"

CUSTOMER_POINT = (
    "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = :k"
)
ORDERS_BY_CUSTOMER = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = :k"
PREPARE_GET_ORDER = (
    f"PREPARE get_order AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
    f"FROM {TABLE} WHERE o_orderkey = ?"
)
READ_KINDS = ("customer_point", "orders_by_customer", "order_lookup")
READ_MIX = (0.4, 0.3, 0.3)


def _table_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Fixture:
    """Expected answers of the read-only lookups, from the parquet."""

    def __init__(self, sf_dir: str) -> None:
        cust = pq.read_table(
            os.path.join(sf_dir, "customer.parquet"),
            columns=["c_custkey", "c_name", "c_acctbal", "c_mktsegment"],
        ).to_pydict()
        self.customers = {
            k: (k, n, a, s)
            for k, n, a, s in zip(
                cust["c_custkey"], cust["c_name"], cust["c_acctbal"], cust["c_mktsegment"]
            )
        }
        orders = pq.read_table(
            os.path.join(sf_dir, "orders.parquet"),
            columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
        ).to_pydict()
        self.orders = {
            k: (k, c, s, p)
            for k, c, s, p in zip(
                orders["o_orderkey"], orders["o_custkey"],
                orders["o_orderstatus"], orders["o_totalprice"],
            )
        }
        self.by_customer: dict[int, list[tuple]] = {}
        for k, c, _, p in self.orders.values():
            self.by_customer.setdefault(c, []).append((k, p))
        for rows in self.by_customer.values():
            rows.sort()


def run(ctx: Context):
    sf_dir, fx = fixtures.ensure(ctx.root, ctx.build, SMOKE_SF if ctx.smoke else SF)
    ctx.detail["fixture"] = fx
    fixture = Fixture(sf_dir)
    root = os.path.join(ctx.build, "serving", f"{os.getpid()}")

    def create_table(engine, rep):
        path = os.path.join(root, f"rep{rep}")
        shutil.rmtree(root, ignore_errors=True)
        return engine.create_versioned_table(TABLE, engine.tables["orders"], path), path

    setup = set_up(ctx, sf_dir, 1 if ctx.smoke else SETUP_REPS, create_table)
    engine = setup.engine
    vt, table_path = setup.state
    try:
        return _serve(ctx, setup, engine, vt, table_path, fixture)
    finally:
        setup.spark.stop()
        shutil.rmtree(root, ignore_errors=True)


def _serve(ctx, setup, engine, vt, table_path, fixture):
    engine.sql(PREPARE_GET_ORDER)
    model = OrdersModel(dict(fixture.orders))

    rng = np.random.default_rng(ctx.seed)
    order_keys = np.array(sorted(fixture.orders), dtype=np.int64)
    hot_orders = rng.permutation(order_keys)
    hot_customers = rng.permutation(np.array(sorted(fixture.customers), dtype=np.int64))
    scale = 0.2 if ctx.smoke else ctx.seconds
    n_reads = max(len(READ_KINDS), int(round(READS_PER_S * scale)))
    n_writes = max(2, int(round(WRITES_PER_S * scale)))
    passes = 2 if ctx.trace else 1
    writes = write_stream(
        rng, hot_orders, len(fixture.customers), WARM_WRITES + passes * n_writes
    )

    def read_streams(n: int) -> list[list[tuple[str, int]]]:
        out = []
        for _ in range(READERS):
            kinds = rng.choice(len(READ_KINDS), size=n, p=READ_MIX)
            ckeys = zipf_keys(rng, hot_customers, n)
            okeys = zipf_keys(rng, hot_orders, n)
            out.append(
                [(READ_KINDS[k], okeys[i] if k == 2 else ckeys[i]) for i, k in enumerate(kinds)]
            )
        return out

    # (reader streams, writer statements) of the warm-up pass, then of
    # each measured pass.
    starts = [WARM_WRITES + i * n_writes for i in range(passes)]
    plan = iter(
        [(read_streams(WARM_READS), writes[:WARM_WRITES])]
        + [(read_streams(n_reads), writes[s:s + n_writes]) for s in starts]
    )
    client_rates: dict[Runner, float] = {}

    checks = {"read_mismatches": 0, "ryw_mismatches": 0}
    lock = threading.Lock()

    def mismatch(key: str) -> None:
        with lock:
            checks[key] += 1

    def read_op(runner, kind: str, key: int) -> None:
        tracer = runner.tracer
        v_lo = model.version

        def op():
            if kind == "order_lookup":
                df = engine.sql(f"EXECUTE get_order({key})")
            else:
                df = engine.sql(
                    CUSTOMER_POINT if kind == "customer_point" else ORDERS_BY_CUSTOMER, k=key
                )
            if tracer.enabled:
                record_plan(tracer, df)
            with tracer.span("exec.action"):
                return df.collect()

        rows, rec = runner.run("read", kind, op)
        if not rec.ok:
            return
        got = [tuple(r) for r in rows]
        if kind == "customer_point":
            ok = got == ([fixture.customers[key]] if key in fixture.customers else [])
        elif kind == "orders_by_customer":
            ok = sorted(got) == fixture.by_customer.get(key, [])
        else:
            if tracer.enabled:
                tracer.sample("storage.files_scanned", len(vt._manifest(vt.latest_version())["files"]))
            states = model.possible(key, v_lo, model.version + 1)
            ok = any(got == ([s] if s is not None else []) for s in states)
        if not ok:
            mismatch("read_mismatches")
            runner.fail(rec, f"read check {kind}({key}): got {got[:3]}")

    def write_op(runner, w) -> None:
        tracer = runner.tracer
        before = vt._manifest(vt.latest_version()) if tracer.enabled else None
        _, rec = runner.run("write", w.verb, lambda: engine.sql(w.sql(TABLE)))
        if not rec.ok:
            return
        model.apply(w)
        got = [tuple(r) for r in engine.sql(f"EXECUTE get_order({w.key})").collect()]
        expect = model.current(w.key)
        if got != ([expect] if expect is not None else []):
            mismatch("ryw_mismatches")
            runner.fail(rec, f"read-your-writes {w.verb}({w.key}): got {got[:3]}")
        if before is not None:
            _storage_samples(tracer, vt, before, model)

    def checkpoint_op(runner) -> None:
        def op():
            vt.checkpoint()
            engine.refresh_versioned_view(TABLE, vt)

        runner.run("checkpoint", "checkpoint", op)

    def one_pass(runner) -> float:
        """Run the next planned pass; returns its wall seconds and records
        the sum of the clients' own op rates in ``client_rates``."""
        streams, my_writes = next(plan)
        barrier = threading.Barrier(READERS + 2)
        errors: list[BaseException] = []
        rates: list[float] = []

        def timed(fn):
            barrier.wait()
            t0 = time.perf_counter()
            n = fn()
            with lock:
                rates.append(n / (time.perf_counter() - t0))

        def reader(ops):
            for kind, key in ops:
                read_op(runner, kind, key)
            return len(ops)

        def writer():
            n = 0
            for i, w in enumerate(my_writes, 1):
                write_op(runner, w)
                n += 1
                if i % CHECKPOINT_EVERY == 0:
                    checkpoint_op(runner)
                    n += 1
            return n

        def guard(fn):
            try:
                timed(fn)
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)

        threads = [
            threading.Thread(target=guard, args=(lambda ops=ops: reader(ops),))
            for ops in streams
        ]
        threads.append(threading.Thread(target=guard, args=(writer,)))
        for t in threads:
            t.start()
        barrier.wait()
        t0 = time.perf_counter()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        if errors:
            raise errors[0]
        client_rates[runner] = sum(rates)
        return wall

    one_pass(Runner(setup.spark, NullTracer()))
    m = measure(ctx, setup.spark, one_pass)
    recs = m.runner.records
    reads = [r.seconds for r in recs if r.kind == "read"]
    e2e = end_to_end(setup, m, reads)
    # Closed-loop throughput: the sum of each client's ops over its own
    # active time.  Total ops over the pass wall would also count the
    # tail in which only the slowest client is still running.
    e2e["ops_per_s"] = (client_rates[m.runner], "1/s")
    for k, v in latency_summary([r.seconds for r in recs if r.kind == "write"], "write_latency").items():
        e2e[k] = (v, "ms")

    count, key_sum, cents_sum = model.totals()
    got = engine.sql(
        f"SELECT count(*) AS n, sum(o_orderkey) AS k, "
        f"sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c FROM {TABLE}"
    ).collect()[0]
    final_ok = (got["n"], got["k"] or 0, got["c"] or 0) == (count, key_sum, cents_sum)
    live_dir = os.path.join(ctx.build, "tmp", f"live-{os.getpid()}")
    vt.read().coalesce(1).write.mode("overwrite").parquet(live_dir)
    live_bytes = _table_bytes(live_dir)
    shutil.rmtree(live_dir, ignore_errors=True)
    e2e["space_amp"] = (_table_bytes(table_path) / live_bytes, "ratio")
    ctx.detail["serving_checks"] = {
        **checks,
        "final_count_checksum_ok": final_ok,
        "final": {"rows": count, "key_sum": key_sum, "cents_sum": cents_sum},
        "versions": vt.latest_version(),
        "files_live": len(vt._manifest(vt.latest_version())["files"]),
        "reads": len(reads),
        "writes": sum(1 for r in recs if r.kind == "write"),
        "checkpoints": sum(1 for r in recs if r.kind == "checkpoint"),
    }
    return result(ctx, setup, m, e2e, checks_ok=final_ok and not any(checks.values()))


def _storage_samples(tracer, vt, before: dict, model: OrdersModel) -> None:
    """Traced runs only: what the last commit did to the file set."""
    after = vt._manifest(vt.latest_version())
    old, new = set(before["files"]), set(after["files"])
    added = sum(os.path.getsize(os.path.join(vt.path, f)) for f in new - old)
    live = sum(os.path.getsize(os.path.join(vt.path, f)) for f in new)
    tracer.sample("storage.files_rewritten", len(old - new))
    tracer.sample("storage.files_live", len(new))
    if added and model.count:
        tracer.sample("storage.write_amp", added / (live / model.count))

"""Pieces every workload shares: set-up, the op runner, output checks
against DuckDB, and run-level measurements (RSS, CPU calibration)."""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

from perfbench.trace import NullTracer, Tracer

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class Context:
    """One benchmark invocation: paths, seed, run length, tracing."""

    root: str
    build: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool = False
    detail: dict = field(default_factory=dict)

    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.build, "tmp")
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.build, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }


@dataclass
class Setup:
    spark: object
    engine: object
    state: object
    seconds: list[float]
    session_start_s: list[float]
    register_views_s: list[float]


def set_up(ctx: Context, sf_dir: str, reps: int, extra=None) -> Setup:
    """Set the engine up ``reps`` times and keep the last one.

    One set-up is session start + ``Engine`` init (catalog registration)
    + ``extra(engine, rep)`` (e.g. versioned-table creation).  Each
    repetition stops the previous SparkContext and starts a fresh one in
    the same JVM, so only the first pays the JVM launch; ``setup_s`` is
    the median over all repetitions."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.session import get_spark

    spark = None
    totals, starts, registers = [], [], []
    engine = state = None
    for rep in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{ctx.workload}", extra_conf=ctx.spark_conf())
        t1 = time.perf_counter()
        engine = Engine(spark, sf_dir=sf_dir)
        t2 = time.perf_counter()
        state = extra(engine, rep) if extra is not None else None
        t3 = time.perf_counter()
        totals.append(t3 - t0)
        starts.append(t1 - t0)
        registers.append(t2 - t1)
    return Setup(spark, engine, state, totals, starts, registers)


def drain(df) -> None:
    """Execute a DataFrame fully without collecting it (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class OpRecord:
    op_id: int
    kind: str
    name: str
    seconds: float
    ok: bool = True
    error: str | None = None


class Runner:
    """Runs ops, timing each one, tagging its Spark jobs with a job group
    and — when tracing — counting its jobs, stages and tasks from the
    status tracker.  Safe to share between client threads."""

    IDLE_GROUP = "perfbench-idle"

    def __init__(self, spark, tracer: Tracer | NullTracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.records: list[OpRecord] = []
        self.exec_counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def run(self, kind: str, name: str, fn):
        """Run ``fn()`` as one op; returns ``(result, record)``.  An
        exception marks the op failed and yields result ``None``."""
        op_id = next(self._ids)
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op=op_id):
                out = fn()
            rec = OpRecord(op_id, kind, name, time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            out = None
            first = (str(e).strip().splitlines() or [""])[0]
            rec = OpRecord(
                op_id, kind, name, time.perf_counter() - t0, False,
                f"{type(e).__name__}: {first[:300]}",
            )
        self.sc.setJobGroup(self.IDLE_GROUP, "benchmark bookkeeping")
        if self.tracer.enabled:
            self._count_jobs(group)
        with self._lock:
            self.records.append(rec)
        return out, rec

    def fail(self, rec: OpRecord, reason: str) -> None:
        rec.ok = False
        rec.error = rec.error or reason[:300]

    def _count_jobs(self, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group) or []:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        with self._lock:
            self.exec_counts.update(
                {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
            )

    def failures(self) -> list[OpRecord]:
        return [r for r in self.records if not r.ok]


def oracle_db(ctx: Context, sf_dir: str):
    """DuckDB with every fixture table as a view over its parquet — the
    same setup the repository's tests use for the registry oracles."""
    import duckdb

    tmp = os.path.join(ctx.build, "tmp", "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare_with_oracle(cols, rows, duck, oracle_sql: str) -> str | None:
    """None when the Spark result equals DuckDB's on ``oracle_sql`` under
    the comparator of ``tests/oracle_compare.py`` (columns sorted by
    name, rows order-insensitive, exact values); else the mismatch."""
    from tests.oracle_compare import _cells_equal, normalize

    res = duck.execute(oracle_sql)
    o_cols = [d[0] for d in res.description]
    o_rows = [tuple(r) for r in res.fetchall()]
    if sorted(cols) != sorted(o_cols):
        return f"columns differ: spark={sorted(cols)} oracle={sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"row count differs: spark={len(rows)} oracle={len(o_rows)}"
    sn = normalize(list(cols), [tuple(r) for r in rows])
    on = normalize(o_cols, o_rows)
    bad = [i for i, (a, b) in enumerate(zip(sn, on)) if not _cells_equal(a, b)]
    if bad:
        i = bad[0]
        return f"{len(bad)} rows differ; first: spark={sn[i]} oracle={on[i]}"
    return None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Restart the peak-RSS count of this process and the JVM (Linux
    ``clear_refs`` 5), so ``peak_rss_mb`` covers the measured pass only,
    not set-up or the DuckDB output checks."""
    for pid in ("self", jvm_pid()):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Peak resident set of this driver process plus the Spark JVM."""
    pid = jvm_pid()
    kb = _hwm_kb("self") + (_hwm_kb(pid) if pid else 0)
    return kb / 1024.0


def host_noise() -> dict:
    """Single-core spin calibration (``bench.py``'s sentinel) and load
    averages, so a run on a contended host can be spotted."""
    from bench import _spin_calibration

    return {
        "spin_calib_s": _spin_calibration(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Measured:
    """The untraced pass (end-to-end numbers) and, in a traced run, the
    traced pass over the same op sequence (per-layer numbers)."""

    runner: Runner
    wall_s: float
    traced: Runner | None = None
    traced_wall_s: float = 0.0
    peak_rss_mb: float = 0.0
    per_layer: dict = field(default_factory=dict)


def measure(ctx: Context, spark, one_pass, after_traced=None) -> Measured:
    """Run ``one_pass(runner) -> wall seconds`` untraced; when tracing,
    run it again with every layer instrumented.  ``after_traced(tracer)``
    may add counts that need the traced pass's results."""
    from perfbench.layers import instrument, per_layer_metrics

    runner = Runner(spark, NullTracer())
    reset_peak_rss()
    out = Measured(runner, one_pass(runner), peak_rss_mb=peak_rss_mb())
    if not ctx.trace:
        return out
    tracer = Tracer()
    traced = Runner(spark, tracer)
    ins = instrument(tracer)
    try:
        out.traced_wall_s = one_pass(traced)
    finally:
        ins.restore()
    if after_traced is not None:
        after_traced(tracer)
    out.traced = traced
    out.per_layer = per_layer_metrics(tracer, traced.exec_counts, len(traced.records))
    out.per_layer["trace.overhead_frac"] = (out.traced_wall_s / out.wall_s - 1.0, "ratio")
    return out


#: The end-to-end metrics of the final result line (``BENCHMARK.json``);
#: the rest of ``end_to_end()`` goes to the detail line.  ``peak_rss_mb``
#: is detail only: the JVM's resident set follows garbage-collection
#: timing and spread ~35 % between runs of the same code.
END_TO_END_NAMES = ("setup_s", "ops_per_s", "latency_p50_ms")


def end_to_end(setup: Setup, m: Measured, latencies: list[float]) -> dict:
    """The end-to-end metrics every workload reports, from the untraced
    pass.  ``latencies`` are the seconds of the ops ``latency_*`` covers."""
    from perfbench.stats import latency_summary

    recs = m.runner.records
    out = {
        "setup_s": (median(setup.seconds), "s"),
        "ops_per_s": (len(recs) / m.wall_s, "1/s"),
        "peak_rss_mb": (m.peak_rss_mb, "MB"),
    }
    for k, v in latency_summary(latencies).items():
        out[k] = (v, "ms")
    out["ops_failed_frac"] = (len(m.runner.failures()) / max(len(recs), 1), "ratio")
    return out


@dataclass
class Result:
    attempted: int
    failed: int
    correct: bool
    end_to_end: dict
    per_layer: dict
    detail: dict


def result(ctx: Context, setup: Setup, m: Measured, e2e: dict, checks_ok: bool) -> Result:
    records = m.runner.records + (m.traced.records if m.traced else [])
    failed = [r for r in records if not r.ok]
    per_layer = dict(m.per_layer)
    if ctx.trace:
        per_layer["session.start_s"] = (median(setup.session_start_s), "s")
        per_layer["catalog.register_views_s"] = (median(setup.register_views_s), "s")
    detail = dict(ctx.detail)
    detail["setup_reps_s"] = setup.seconds
    detail["session_start_s"] = setup.session_start_s
    detail["register_views_s"] = setup.register_views_s
    detail["measured_wall_s"] = m.wall_s
    if m.traced is not None:
        detail["traced_wall_s"] = m.traced_wall_s
    op_ms: dict[str, list[float]] = {}
    for r in m.runner.records:
        op_ms.setdefault(r.name, []).append(round(r.seconds * 1000.0, 1))
    detail["op_ms"] = op_ms
    detail["failures"] = [
        {"op": r.name, "kind": r.kind, "error": r.error} for r in failed[:20]
    ]
    return Result(
        attempted=len(records),
        failed=len(failed),
        correct=checks_ok and not failed,
        end_to_end=e2e,
        per_layer=per_layer,
        detail=detail,
    )

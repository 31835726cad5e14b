"""``analytic_sql``: one closed-loop client sending headline analytic
queries as DuckDB-dialect SQL text through ``Engine.sql`` at sf0.1.

Each round is a seeded shuffle of the query set; a run is a fixed number
of rounds (set by ``--seconds``), each query drained to the noop sink.
Execution-bound: scan, join, aggregate and shuffle dominate, dispatch and
planning are a few percent of a query.
"""

from __future__ import annotations

import random
import time

from perfbench import fixtures
from perfbench.harness import (
    Context,
    Runner,
    compare_with_oracle,
    drain,
    end_to_end,
    measure,
    oracle_db,
    result,
    set_up,
)
from perfbench.layers import record_plan
from perfbench.trace import NullTracer

# sf0.1 (600 k lineitem rows), not sf0.5: a query still spends most of its
# time executing (sf0.1 runs at ~0.45x the sf0.5 time), and the smaller
# data leaves room in the per-run time budget for a warm-up round and two
# timed rounds.
SF = 0.1
SMOKE_SF = 0.01
SETUP_REPS = 3
# Wall seconds of one round of the query set at sf0.1 on a 4-core host;
# a run times --seconds // ROUND_S rounds, at least one, after one
# untimed warm-up round (the cold check round leaves the JIT half warm).
ROUND_S = 5.0

# The registry's oracle texts of the headline queries.  Set-up keeps the
# ones Engine.sql accepts today and reports the rest with their error.
# tpcds_q86 and h2o_group_q10 are left out to fit the per-run time
# budget; tpcds_q36 and clickbench_q10 cover the same plan shapes.
CANDIDATES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "job_like_deep_join",
    "job_like_9way_snowflake",
    "tpcds_q36_margin_rollup_rank",
    "clickbench_q10",
    "agg_distinct_multi",
    "win_running_totals",
    "tpch_q2_official",
    "tpch_q11_official",
)


def validate(engine, texts: dict[str, str]) -> tuple[list[str], dict[str, str]]:
    """Split query names into those whose SQL text Engine.sql parses and
    analyzes, and a name -> first error line map of the rest."""
    valid, excluded = [], {}
    for name, sql in texts.items():
        try:
            engine.sql(sql)
            valid.append(name)
        except Exception as e:  # noqa: BLE001 — the error is the finding
            excluded[name] = (str(e).strip().splitlines() or [type(e).__name__])[0][:200]
    return valid, excluded


def run(ctx: Context):
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    sf_dir, fx = fixtures.ensure(ctx.root, ctx.build, SMOKE_SF if ctx.smoke else SF)
    ctx.detail["fixture"] = fx
    setup = set_up(ctx, sf_dir, 1 if ctx.smoke else SETUP_REPS)
    engine = setup.engine

    texts = {n: REGISTRY[n].oracle for n in CANDIDATES}
    valid, excluded = validate(engine, texts)
    ctx.detail["excluded_queries"] = excluded
    ctx.detail["queries"] = valid

    # Output check, once per distinct query, outside the timed region;
    # it doubles as the warm-up round.
    duck = oracle_db(ctx, sf_dir)
    mismatched: dict[str, str] = {}
    t_check = time.perf_counter()
    try:
        for name in valid:
            try:
                df = engine.sql(texts[name])
                diff = compare_with_oracle(df.columns, df.collect(), duck, texts[name])
            except Exception as e:  # noqa: BLE001 — recorded as a failed check
                diff = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            if diff:
                mismatched[name] = diff
    finally:
        duck.close()
    ctx.detail["check_s"] = time.perf_counter() - t_check
    ctx.detail["check_mismatches"] = mismatched

    rng = random.Random(ctx.seed)
    rounds = 1 if ctx.smoke else max(1, int(ctx.seconds // ROUND_S))
    sequence = [name for _ in range(rounds) for name in rng.sample(valid, len(valid))]

    def one_pass(runner, names=sequence) -> float:
        tracer = runner.tracer

        def op(sql):
            df = engine.sql(sql)
            if tracer.enabled:
                record_plan(tracer, df)
            with tracer.span("exec.action"):
                drain(df)

        t0 = time.perf_counter()
        for name in names:
            _, rec = runner.run("query", name, lambda: op(texts[name]))
            if name in mismatched:
                runner.fail(rec, f"output check: {mismatched[name]}")
        return time.perf_counter() - t0

    if not ctx.smoke:
        one_pass(Runner(setup.spark, NullTracer()), rng.sample(valid, len(valid)))
    m = measure(ctx, setup.spark, one_pass)
    e2e = end_to_end(setup, m, [r.seconds for r in m.runner.records])
    out = result(ctx, setup, m, e2e, checks_ok=not mismatched)
    setup.spark.stop()
    return out

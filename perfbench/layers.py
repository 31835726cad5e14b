"""The traced run's layer map: which public functions are wrapped under
which layer, and how spans and counters become per-layer metrics.

Layers carry the repository's module names.  ``exec`` is the Spark
runtime (configured by ``session.py``): the benchmark's own action call
(``harness.drain`` / ``collect``) in an ``exec.action`` span, with job,
stage and task counts read per op from the status tracker.  ``op`` spans
are the benchmark's own code around each op; ``bench`` in the self-time
split is their self time.
"""

from __future__ import annotations

import importlib
import inspect as _inspect

from perfbench.trace import (
    PACKAGE,
    Instrumentation,
    Span,
    Tracer,
    layer_self_times,
    outermost,
)

LAYERS = (
    "engine", "dialect", "prepared", "catalog", "plans", "exec", "storage",
    "compaction", "pipeline", "queries",
)


def _public_functions(module) -> list[str]:
    return [
        name
        for name, fn in vars(module).items()
        if not name.startswith("_")
        and _inspect.isfunction(fn)
        and fn.__module__ == module.__name__
    ]


def _compact_returned(tracer: Tracer, args, kwargs, out) -> None:
    """partitions in/out and whether compact() chose a full shuffle."""
    df = args[0] if args else kwargs["df"]
    n_in = df._jdf.queryExecution().toRdd().getNumPartitions()
    shuffled = False
    if out is df:
        n_out = n_in
    else:
        node = out._jdf.queryExecution().logical()
        if node.getClass().getSimpleName() == "Repartition":
            n_out = int(node.numPartitions())
            shuffled = bool(node.shuffle())
        else:
            n_out = out._jdf.queryExecution().toRdd().getNumPartitions()
    tracer.sample("compaction.partitions_in", n_in)
    tracer.sample("compaction.partitions_out", n_out)
    tracer.sample("compaction.repartitioned", 1.0 if shuffled else 0.0)


def _keep_lsh_pairs(tracer: Tracer, args, kwargs, out) -> None:
    tracer.sample("pipeline.lsh_pairs_df", out)


def instrument(tracer: Tracer) -> Instrumentation:
    """Wrap every layer entry point; call ``restore()`` to undo."""
    import data_chunk_compaction_in_duckdb_spark.queries  # noqa: F401 — bind all callers first
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.storage.versioned import VersionedTable

    def module(name: str):
        # import_module, not ``from pkg import mod``: the compaction
        # package re-exports a function under its submodule's name
        return importlib.import_module(f"{PACKAGE}.{name}")

    catalog, dialect, prepared = module("catalog"), module("dialect"), module("prepared")
    compact_mod, profiler = module("compaction.compact"), module("compaction.profiler")
    dedup, similarity = module("pipeline.dedup"), module("pipeline.similarity")
    text, plans_inspect = module("pipeline.text"), module("plans.inspect")

    ins = Instrumentation(tracer)
    ins.wrap_method(Engine, "sql", "engine.sql")
    for name in ("rewrite_expressions", "rewrite_star_modifiers", "rewrite_qualify"):
        ins.wrap_function(dialect, name, "dialect.rewrite")
    ins.wrap_function(prepared, "dispatch", "prepared.execute")
    ins.wrap_function(catalog, "register_views", "catalog.register_views")
    for name in ("count_exchanges", "join_strategies"):
        ins.wrap_function(plans_inspect, name, "plans.plan")
    for name in ("insert", "delete_where", "update_where", "merge", "delete_keys"):
        ins.wrap_method(VersionedTable, name, "storage.commit")
    ins.wrap_method(VersionedTable, "checkpoint", "storage.checkpoint")
    ins.wrap_function(profiler, "partition_histogram", "compaction.histogram")
    ins.wrap_function(compact_mod, "compact", "compaction.compact", _compact_returned)
    ins.wrap_function(compact_mod, "fan_out", "compaction.fan_out")
    for module, span in ((dedup, "pipeline.dedup"), (similarity, "pipeline.similarity"),
                         (text, "pipeline.text")):
        for name in _public_functions(module):
            hook = _keep_lsh_pairs if name == "lsh_candidate_pairs" else None
            ins.wrap_function(module, name, span, hook)
    return ins


def record_plan(tracer: Tracer, df) -> None:
    """Traced runs only: plan shape of an op's DataFrame before its
    action, through the repository's ``plans.inspect`` helpers."""
    from data_chunk_compaction_in_duckdb_spark.plans import inspect as plans_inspect

    joins = plans_inspect.join_strategies(df)
    tracer.count("plans.exchanges", plans_inspect.count_exchanges(df))
    tracer.count("plans.broadcast_joins", sum(1 for j in joins if j.startswith("Broadcast")))
    tracer.count("plans.sort_merge_joins", sum(1 for j in joins if j == "SortMergeJoin"))


def _mean_ms(spans: list[Span]) -> float:
    return 1000.0 * sum(s.end - s.start for s in spans) / len(spans) if spans else 0.0


def per_layer_metrics(tracer: Tracer, exec_counts, n_ops: int) -> dict[str, tuple[float, str]]:
    """Every per-layer metric from one traced pass.  ``*_ms`` metrics are
    mean milliseconds per call of the layer's outermost spans (0 when the
    layer is never called); ``*_per_op`` counts are means over all ops;
    ``self.<layer>_frac`` is the layer's self time over the ops' wall."""
    spans = tracer.spans
    ops = max(n_ops, 1)
    samples = tracer.samples

    def ms(name: str) -> tuple[float, str]:
        return _mean_ms(outermost(spans, name)), "ms"

    def mean(key: str) -> float:
        vals = samples.get(key, [])
        return sum(vals) / len(vals) if vals else 0.0

    m: dict[str, tuple[float, str]] = {
        "engine.sql_ms": ms("engine.sql"),
        "dialect.rewrite_ms": ms("dialect.rewrite"),
        "prepared.execute_ms": ms("prepared.execute"),
        "plans.plan_ms": ms("plans.plan"),
        "plans.exchanges_per_op": (tracer.counts["plans.exchanges"] / ops, "count"),
        "plans.broadcast_joins_per_op": (tracer.counts["plans.broadcast_joins"] / ops, "count"),
        "plans.sort_merge_joins_per_op": (tracer.counts["plans.sort_merge_joins"] / ops, "count"),
        "exec.action_ms": ms("exec.action"),
        "exec.jobs_per_op": (exec_counts["jobs"] / ops, "count"),
        "exec.stages_per_op": (exec_counts["stages"] / ops, "count"),
        "exec.tasks_per_op": (exec_counts["tasks"] / ops, "count"),
        "exec.failed_tasks": (float(exec_counts["failed_tasks"]), "count"),
        "storage.commit_ms": ms("storage.commit"),
        "storage.checkpoint_ms": ms("storage.checkpoint"),
        "storage.write_amp": (mean("storage.write_amp"), "ratio"),
        "storage.files_live": (mean("storage.files_live"), "count"),
        "storage.files_rewritten_per_commit": (mean("storage.files_rewritten"), "count"),
        "storage.files_scanned_per_lookup": (mean("storage.files_scanned"), "count"),
        "storage.commit_conflicts": (
            float(sum(v for k, v in tracer.counts.items()
                      if k.startswith("storage.") and k.endswith(":CommitConflictError"))),
            "count",
        ),
        "compaction.compact_ms": ms("compaction.compact"),
        "compaction.fan_out_ms": ms("compaction.fan_out"),
        "compaction.histogram_jobs": (
            float(sum(1 for s in spans if s.name == "compaction.histogram")), "count"),
        "compaction.partitions_in": (mean("compaction.partitions_in"), "count"),
        "compaction.partitions_out": (mean("compaction.partitions_out"), "count"),
        "compaction.repartition_frac": (mean("compaction.repartitioned"), "ratio"),
        "pipeline.dedup_ms": ms("pipeline.dedup"),
        "pipeline.similarity_ms": ms("pipeline.similarity"),
        "pipeline.text_ms": ms("pipeline.text"),
        "pipeline.lsh_candidates": (mean("pipeline.lsh_candidates"), "count"),
        "pipeline.lsh_useful_frac": (mean("pipeline.lsh_useful_frac"), "ratio"),
        "queries.build_ms": ms("queries.build"),
    }
    op_wall = sum(s.end - s.start for s in spans if s.name == "op")
    selfs = layer_self_times(spans)
    for layer in LAYERS:
        share = selfs.get(layer, 0.0) / op_wall if op_wall else 0.0
        m[f"self.{layer}_frac"] = (share, "ratio")
    m["self.bench_frac"] = (selfs.get("op", 0.0) / op_wall if op_wall else 0.0, "ratio")
    m["trace.spans_per_op"] = (len(spans) / ops, "count")
    return m


PER_LAYER_NAMES = (
    "session.start_s", "catalog.register_views_s",
    "engine.sql_ms", "dialect.rewrite_ms", "prepared.execute_ms",
    "plans.plan_ms", "plans.exchanges_per_op", "plans.broadcast_joins_per_op",
    "plans.sort_merge_joins_per_op",
    "exec.action_ms", "exec.jobs_per_op", "exec.stages_per_op", "exec.tasks_per_op",
    "exec.failed_tasks",
    "storage.commit_ms", "storage.checkpoint_ms", "storage.write_amp", "storage.files_live",
    "storage.files_rewritten_per_commit", "storage.files_scanned_per_lookup",
    "storage.commit_conflicts",
    "compaction.compact_ms", "compaction.fan_out_ms", "compaction.histogram_jobs",
    "compaction.partitions_in", "compaction.partitions_out", "compaction.repartition_frac",
    "pipeline.dedup_ms", "pipeline.similarity_ms", "pipeline.text_ms",
    "pipeline.lsh_candidates", "pipeline.lsh_useful_frac",
    "queries.build_ms",
    *(f"self.{layer}_frac" for layer in LAYERS), "self.bench_frac",
    "trace.spans_per_op", "trace.overhead_frac",
)

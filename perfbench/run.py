#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload analytic_sql --seed 1 --seconds 10 --trace 0

Workloads: ``analytic_sql``, ``serving_rw``, ``batch_curation``.  The
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it is a
``{"detail": ...}`` object with everything else the run measured
(tail latencies, write latencies, fixture hashes, excluded queries,
host noise).  Fixtures, Spark scratch space and temp files live under
``.bench_build/`` in the repository root.  ``--smoke`` runs a tiny
sf0.01 version of the workload for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
PACKAGE = "data_chunk_compaction_in_duckdb_spark"
WORKLOADS = ("analytic_sql", "serving_rw", "batch_curation")


def _environment() -> None:
    """Process environment, set before Spark's JVM starts so it and the
    Python workers inherit it.  The repository root goes on PYTHONPATH:
    a driver started outside the root otherwise fails inside Python
    workers with ``ModuleNotFoundError`` for the engine package (seen on
    ``sim_ann_pq_adc_topk``)."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(BUILD, sub), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    os.environ["TMPDIR"] = os.path.join(BUILD, "tmp")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _metrics(values: dict, names) -> dict:
    return {n: {"value": float(values[n][0]), "unit": values[n][1]} for n in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    _environment()

    import importlib

    from perfbench import procs
    from perfbench.harness import END_TO_END_NAMES, Context, host_noise
    from perfbench.layers import PER_LAYER_NAMES

    # SIGTERM unwinds like an exception, so the finally below still ends
    # every process this run started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    procs.become_subreaper()
    procs.jvm_dies_with_driver()

    ctx = Context(
        root=ROOT,
        build=BUILD,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        smoke=args.smoke,
    )
    ctx.detail["host_before"] = host_noise()
    workload = importlib.import_module(f"perfbench.workloads.{args.workload}")
    try:
        res = workload.run(ctx)
    finally:
        procs.stop_all()
    leftover = procs.descendants()
    if leftover:
        print(f"perfbench: processes still running after stop: {leftover}", file=sys.stderr)
        return 3
    res.detail["host_after"] = host_noise()
    res.detail["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in res.end_to_end.items()}

    if args.trace:
        metrics = _metrics(res.per_layer, PER_LAYER_NAMES)
    else:
        metrics = _metrics(res.end_to_end, END_TO_END_NAMES)
    print(json.dumps({"detail": res.detail}, default=str))
    print(json.dumps({
        "correct": bool(res.correct),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

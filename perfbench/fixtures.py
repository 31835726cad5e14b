"""Seeded parquet fixtures, generated by ``tools/gen_sf_fixture.py`` and
cached under the build directory (outside git).

The generator module is loaded from its file and its module-level
``SEED`` is set here to ``FIXTURE_SEED``, so the tool itself stays
unchanged.  Every run reads the same data per scale factor; the
benchmark seed drives the op stream (order, parameters, keys, writes).
Per-seed data made the dedup and contamination jobs' work differ by up
to a third between seeds, which swamped the run-to-run comparison.
Generation time is reported on its own and is never part of ``setup_s``.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import sys
import time

import pyarrow.parquet as pq

FIXTURE_SEED = 0
MANIFEST = "FIXTURE.json"


def _generator(root: str):
    path = os.path.join(root, "tools", "gen_sf_fixture.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen_sf_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def describe(sf_dir: str) -> dict[str, dict]:
    """Table -> row count and sha256 of its parquet file."""
    out = {}
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            out[name[: -len(".parquet")]] = {
                "rows": pq.ParquetFile(path).metadata.num_rows,
                "sha256": _sha256(path),
            }
    return out


def ensure(root: str, build: str, sf: float) -> tuple[str, dict]:
    """Path of the fixture for ``sf``, generating it on first use.
    Returns ``(sf_dir, info)``; ``info`` carries the fixture seed, the
    tables' row counts and file hashes, and the generation seconds (0.0
    when cached)."""
    fixture_seed = FIXTURE_SEED
    base = os.path.join(build, "fixtures")
    sf_dir = os.path.join(base, f"sf{sf:g}-seed{fixture_seed}")
    manifest = os.path.join(sf_dir, MANIFEST)
    if os.path.exists(manifest):
        with open(manifest) as f:
            info = json.load(f)
        info["generate_s"] = 0.0
        return sf_dir, info
    gen = _generator(root)
    gen.SEED = fixture_seed
    tmp = f"{sf_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):
        gen.generate(sf, tmp)
    elapsed = time.perf_counter() - t0
    info = {"sf": sf, "fixture_seed": fixture_seed, "tables": describe(tmp)}
    with open(os.path.join(tmp, MANIFEST), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.replace(tmp, sf_dir)
    info["generate_s"] = elapsed
    return sf_dir, info

#!/usr/bin/env python
"""Differential fuzz for the PREPARE/EXECUTE path.

Takes the same dialect-common random SELECTs as
tools/fuzz_differential.py, LIFTS their integer literals into numbered
parameters, and runs ``PREPARE fz AS <sql'>; EXECUTE fz(v1, ..)`` on
BOTH engines — DuckDB's native prepared statements vs the engine's
prepared.py (marker rewrite + literal-Column binding through
Engine.sql, including the QUALIFY/star dialect rewrites).  A binding
bug (wrong marker order, type-lossy fold, literal-span miscount)
surfaces as a row/value divergence against the unparameterized
original.  About a third of the statements are point, IN and range
reads of the shape Engine.sql reads on the driver (local_exec); the
summary line says how many EXECUTEs took that path instead of a Spark
job.

Each statement that read on the driver is EXECUTEd again after each of
these events, and every answer is compared with DuckDB's: nothing
(a statement-recipe hit), a commit to a versioned table, a SET, a
rebind of every fixture view and a re-PREPARE of the same text.  The
summary line gives those EXECUTEs' recipe hit/miss split
(``Engine.recipe_counts``).

Each answer's Rows must carry their DataFrame's column names as
``__fields__``, and those must be DuckDB's column names.  Column order is
counted, not compared: ``SELECT * REPLACE`` puts the replaced column
last, where DuckDB keeps its place.  The summary also says how many
collects a local read answered from its Arrow table.

Usage: python tools/fuzz_prepared.py [n_queries] [seed]
Exit 1 on any divergence.
"""

from __future__ import annotations

import itertools
import os
import random
import re
import shutil
import sys
import tempfile
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_FUZZ_SF_DIR", "/root/testdata/sf0.001")

# standalone integer literals: not part of an identifier, float, or
# string (string spans are masked before scanning)
_INT_RE = re.compile(r"(?<![\w.'])\d+(?![\w.'])")


_DATE_RE = re.compile(r"\bDATE\s+'[^']*'", re.I)
_TYPED_KEYWORD_RE = re.compile(
    r"\b(DATE|TIMESTAMP|TIME|INTERVAL)\s*$", re.I
)


def _protected_spans(lx) -> list[tuple[int, int]]:
    """Regions of the lexed statement ``lx`` where a parameter marker
    would defeat the TEXTUAL dialect rewrites (documented engine
    limitation): bracket subscripts/slices/list literals, JSON-arrow
    right sides, and SIMILAR TO patterns all require literal text at
    rewrite time."""
    prot: list[tuple[int, int]] = []
    for m in re.finditer(r"\[", lx.masked):
        try:
            prot.append((m.start(), lx.partner(m.start()) + 1))
        except ValueError:
            prot.append((m.start(), len(lx.sql)))
    for m in re.finditer(r"->>?|\bSIMILAR\s+TO\b", lx.masked, re.I):
        try:
            prot.append((m.start(), lx.operand_end(m.end())))
        except ValueError:
            prot.append((m.start(), len(lx.sql)))
    return prot


def lift_parameters(
    sql: str, rng: random.Random, max_params: int = 6
) -> tuple[str, list[str]] | None:
    """Replace up to ``max_params`` randomly chosen literals — integer,
    string, or typed ``DATE '...'`` — with $1..$k markers (each
    occurrence its own parameter, DuckDB's numbered style).  Returns
    (parameterized_sql, values) or None when the query has no liftable
    literal."""
    from data_chunk_compaction_in_duckdb_spark.dialect import Lexed

    lx = Lexed(sql)
    prot = _protected_spans(lx)

    def clear(a: int, b: int) -> bool:
        return not any(pa < b and a < pb for pa, pb in prot)

    spans = [
        (m.start(), m.end())
        for m in _INT_RE.finditer(lx.masked)
        if clear(m.start(), m.end())
    ]
    # typed DATE literals lift whole (`DATE '...'` is one value)
    date_spans = set()
    for m in _DATE_RE.finditer(sql):
        if clear(m.start(), m.end()):
            spans.append((m.start(), m.end()))
            date_spans.add((m.start(), m.end()))
    # plain string literals (not the payload of a typed literal)
    for a, b in lx.spans:
        if sql[a] != "'" or not clear(a, b):
            continue
        if _TYPED_KEYWORD_RE.search(sql[:a].rstrip()):
            continue
        spans.append((a, b))
    spans = sorted(set(spans))
    # drop overlapping candidates (a DATE span contains its string)
    dedup: list[tuple[int, int]] = []
    for a, b in spans:
        if dedup and a < dedup[-1][1]:
            if (a, b) in date_spans:
                dedup[-1] = (a, b)
            continue
        dedup.append((a, b))
    spans = dedup
    if not spans:
        return None
    chosen = sorted(rng.sample(spans, min(len(spans), max_params)))
    out: list[str] = []
    values: list[str] = []
    last = 0
    for i, (a, b) in enumerate(chosen):
        out.append(sql[last:a])
        out.append(f"${i + 1}")
        values.append(sql[a:b])
        last = b
    out.append(sql[last:])
    return "".join(out), values


def local_select(rng: random.Random) -> str:
    """A point, IN or range read of bare or renamed columns over one
    fixture table — the shape Engine.sql reads on the driver
    (local_exec) — with edge keys: negative, missing, beyond INT."""
    from tools.fuzz_differential import STR_LITS, TABLES

    table = rng.choice(list(TABLES))
    ints, strs = TABLES[table]["int"], TABLES[table]["str"]
    cols = rng.sample(ints + strs, rng.randint(1, len(ints + strs)))
    proj = ", ".join(c if rng.random() < 0.7 else f"{c} AS x{i}" for i, c in enumerate(cols))
    keys = [-5, 0, 1, 2, 3, 7, 24, 99, 149, 1500, 99999, 2147483648]
    conds = []
    for _ in range(rng.randint(1, 2)):
        roll = rng.random()
        col = rng.choice(ints)
        if roll < 0.2 and strs:
            s = rng.choice(strs)
            conds.append(f"{s} = '{rng.choice(STR_LITS[s])}'")
        elif roll < 0.3:
            conds.append(f"{rng.choice(ints + strs)} IS NOT NULL")
        elif roll < 0.5:
            conds.append(f"{col} IN ({', '.join(str(k) for k in rng.sample(keys, 3))})")
        else:
            op, k = rng.choice(["=", "<", "<=", ">", ">="]), rng.choice(keys)
            conds.append(f"{col} {op} {k}" if rng.random() < 0.8 else f"{k} {op} {col}")
    return f"SELECT {proj} FROM {table} WHERE {' AND '.join(conds)}"


def _same(sdf, oracle: list, names: list[str], tally: Counter) -> bool:
    """Whether ``sdf``'s rows equal DuckDB's normalized ``oracle`` rows,
    each row's ``__fields__`` equals ``sdf.columns`` and those hold
    DuckDB's column ``names``.  ``tally`` counts the collects answered
    from a local read's Arrow table (``"arrow"``) and those whose column
    order differs from DuckDB's (``"order"``)."""
    from data_chunk_compaction_in_duckdb_spark.local_exec import LocalFrame
    from tests.oracle_compare import _cells_equal, normalize

    rows = sdf.collect()
    tally["arrow"] += isinstance(sdf, LocalFrame)
    if any(list(r.__fields__) != sdf.columns for r in rows) or sorted(sdf.columns) != sorted(names):
        return False
    tally["order"] += sdf.columns != names
    got = normalize(sdf.columns, [tuple(x) for x in rows])
    return len(got) == len(oracle) and all(_cells_equal(a, b) for a, b in zip(got, oracle))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    import duckdb

    from tests.oracle_compare import normalize
    from tools.fuzz_differential import TABLES, gen_query

    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    from data_chunk_compaction_in_duckdb_spark.engine import Engine
    from data_chunk_compaction_in_duckdb_spark.session import get_spark

    spark = get_spark(app_name="fuzz-prepared", cpus=4, shuffle_partitions=4)
    eng = Engine(spark=spark, sf_dir=SF_DIR)
    vt = eng.create_versioned_table(
        "fz_v", eng.tables["orders"], tempfile.mkdtemp(prefix="fuzz_prepared_")
    )
    threads = itertools.cycle((3, 4))
    events = {
        "repeat": lambda p_sql: None,
        "commit": lambda p_sql: eng.sql(
            "UPDATE fz_v SET o_totalprice = o_totalprice + 1 WHERE o_orderkey = 1"
        ),
        "set": lambda p_sql: eng.sql(f"SET threads = {next(threads)}"),
        "rebind": lambda p_sql: [
            eng.tables[t].createOrReplaceTempView(t) for t in TABLES
        ],
        "reprepare": lambda p_sql: eng.sql(f"PREPARE fz AS {p_sql}"),
    }

    rng = random.Random(seed)
    bad: list[tuple[str, str]] = []
    lifted = local = repeats = 0
    tally: Counter = Counter()
    for i in range(n):
        sql = local_select(rng) if rng.random() < 0.3 else gen_query(rng)
        lift = lift_parameters(sql, rng)
        if lift is None:
            continue
        p_sql, values = lift
        lifted += 1
        args = ", ".join(values)
        try:
            duck.execute(f"PREPARE fz AS {p_sql}")
            ores = duck.execute(f"EXECUTE fz({args})")
            o_cols = [d[0] for d in ores.description]
            o_rows = [tuple(x) for x in ores.fetchall()]
            duck.execute("DEALLOCATE fz")
        except Exception as e:  # noqa: BLE001
            if "Parameter not supported" in str(e):
                # DuckDB's binder refuses parameters in GROUP BY/ORDER
                # BY positions (a DuckDB limitation — the engine's
                # binding through Spark accepts them, a documented
                # laxness); nothing to compare
                lifted -= 1
                continue
            bad.append((p_sql, f"duckdb error: {str(e)[:200]}"))
            continue
        on = normalize(o_cols, o_rows)
        try:
            eng.sql(f"PREPARE fz AS {p_sql}")
            before = eng.local_exec_counts["local"]
            sdf = eng.sql(f"EXECUTE fz({args})")
            went_local = eng.local_exec_counts["local"] > before
            local += went_local
            if not _same(sdf, on, o_cols, tally):
                bad.append((p_sql, f"rows differ, args=({args})"))
            # the same EXECUTE after each event
            for name, event in events.items() if went_local else ():
                event(p_sql)
                repeats += 1
                if not _same(eng.sql(f"EXECUTE fz({args})"), on, o_cols, tally):
                    bad.append((p_sql, f"rows differ after {name}, args=({args})"))
            eng.sql("DEALLOCATE fz")
        except Exception as e:  # noqa: BLE001
            bad.append((p_sql, f"engine error: {str(e)[:300]}"))
            continue
        if (i + 1) % 50 == 0:
            print(f"[{i + 1}/{n}] lifted={lifted} divergences={len(bad)}")
    for sql, reason in bad:
        print(f"DIVERGENCE: {reason}\n  {sql}")
    eng.sql("RESET threads")
    shutil.rmtree(vt.path, ignore_errors=True)
    rc = eng.recipe_counts
    print(
        f"done: {n} generated, {lifted} parameterized+executed "
        f"({local} read on the driver), {len(bad)} divergences; "
        f"{repeats} repeated EXECUTEs, recipes {rc['hit']} hits / {rc['miss']} misses; "
        f"{tally['arrow']} collects answered from Arrow, "
        f"{tally['order']} in another column order than DuckDB's"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

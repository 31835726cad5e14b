"""sqllogictest-subset runner for the Spark SQL surface.

The reference's primary test corpus is 2,387 sqllogictest-derived `.test`
files run by `test/sqlite/sqllogic_parser.cpp` / `sqllogic_command.cpp`
(SURVEY.md §5).  This module re-implements the directive subset those
files actually use against `spark.sql(...)`:

    # comment
    statement ok
    <sql>                      -- must execute without error

    statement error
    <sql>                      -- must raise

    query <types> [rowsort|nosort]
    <sql>
    ----
    <tab-separated expected row per line>

Type string: one char per column — I (integer), R (real, rendered %.3f),
T (text).  NULL renders as the literal string `NULL`, booleans as
`true`/`false` (the sqllogictest conventions).  `rowsort` sorts rendered
rows before comparing; the default is `nosort` (query must ORDER BY).

``EngineSqlContext`` routes each statement by the classifier
``Engine.sql`` uses (``dialect.classify_statement``).  It keeps its own
handlers only for the file-local table model — CREATE TABLE AS to a
temp view, CREATE [UNIQUE] INDEX / DROP INDEX through
Engine.create_index's bucketed ART analog, DML on those tables, and
the transactions that snapshot them — and sends every other statement
(settings, view/schema/sequence DDL, EXPLAIN, DESCRIBE, queries) to
``Engine.sql``: the SAME .test text DuckDB executes natively during
generation (tools/gen_sqllogic.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from decimal import Decimal

_QUERY_RE = re.compile(r"^query\s+([IRT]+)\s*(rowsort|nosort)?\s*$")

class SqlLogicError(AssertionError):
    """A .test directive failed (wrong rows, unexpected error, ...)."""


@dataclass
class Record:
    kind: str                      # "statement_ok" | "statement_error" | "query"
    sql: str
    line: int                      # 1-based line of the directive
    types: str = ""
    sortmode: str = "nosort"
    expected: list[str] = field(default_factory=list)


def parse_file(path: str) -> list[Record]:
    lines = open(path).read().splitlines()
    records: list[Record] = []
    i = 0
    n = len(lines)
    while i < n:
        line = lines[i].strip()
        if not line or line.startswith("#"):
            i += 1
            continue
        start = i + 1
        if line in ("statement ok", "statement error"):
            i += 1
            sql: list[str] = []
            while i < n and lines[i].strip() and not lines[i].startswith("#"):
                sql.append(lines[i])
                i += 1
            records.append(
                Record(
                    kind="statement_ok" if line.endswith("ok") else "statement_error",
                    sql="\n".join(sql),
                    line=start,
                )
            )
            continue
        m = _QUERY_RE.match(line)
        if m:
            types, sortmode = m.group(1), m.group(2) or "nosort"
            i += 1
            sql = []
            while i < n and lines[i].strip() != "----":
                sql.append(lines[i])
                i += 1
            if i >= n:
                raise SqlLogicError(f"{path}:{start}: query without ---- separator")
            i += 1  # skip ----
            expected = []
            while i < n and lines[i].strip():
                expected.append(lines[i])
                i += 1
            records.append(
                Record(
                    kind="query",
                    sql="\n".join(sql),
                    line=start,
                    types=types,
                    sortmode=sortmode,
                    expected=expected,
                )
            )
            continue
        raise SqlLogicError(f"{path}:{i + 1}: unrecognized directive {line!r}")
    return records


def render_value(v, t: str) -> str:
    if v is None:
        return "NULL"
    if t == "I":
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(int(v))
    if t == "R":
        return f"{float(v):.3f}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        return str(v)
    # sqllogictest convention: empty strings render as "(empty)" so golden
    # rows never contain blank lines (which terminate the record).
    if isinstance(v, str) and v == "":
        return "(empty)"
    return str(v)


def render_row(row, types: str) -> str:
    if len(row) != len(types):
        raise SqlLogicError(
            f"result arity {len(row)} != type string {types!r}"
        )
    return "\t".join(render_value(v, t) for v, t in zip(row, types))


# --------------------------------------------------- engine statements
# (routing: see the module docstring)

# index-DDL family (reference test/sql/index/ + duckdb_indexes();
# CREATE TABLE AS is routed here too so the indexed tables are
# file-local temp views on the Spark side and real tables in DuckDB)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(\w+)\s+AS\s+(.*)$",
    re.I | re.S,
)
_CREATE_INDEX_RE = re.compile(
    r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(\w+)\s+ON\s+(\w+)\s*"
    r"\(([^)]*)\)\s*;?\s*$",
    re.I,
)
_DROP_INDEX_RE = re.compile(
    r"^\s*DROP\s+INDEX\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", re.I
)
_PRAGMA_TABLE_INFO_RE = re.compile(
    r"\bpragma_table_info\s*\(\s*'(\w+)'\s*\)", re.I
)


class EngineSqlContext:
    """Per-file execution context over one ``Engine``: owns the file's
    CTAS tables and a throwaway root for the sequence logs and index
    copies its statements create.  ``close()`` removes that root."""

    def __init__(self, spark):
        import tempfile

        from data_chunk_compaction_in_duckdb_spark.engine import Engine
        from data_chunk_compaction_in_duckdb_spark.prepared import (
            PreparedStore,
        )

        self.spark = spark
        self.root = tempfile.mkdtemp(prefix="sqllogic_seq_")
        self._engine = Engine(spark=spark, register=False)
        # CREATE SEQUENCE through Engine.sql logs under this file's root
        self._engine._seq_root = self.root
        self._generation = 0  # bumped per index DDL so paths are fresh
        self.ctas: dict[str, object] = {}  # file-local CREATE TABLE AS
        # runner-side store: prepared DML re-enters this context, so it
        # reaches the CTAS tables
        self._prepared = PreparedStore()
        # transaction state (reference test/sql/transactions/): BEGIN
        # snapshots the catalog dicts — DataFrames are immutable, so a
        # dict copy IS the MVCC snapshot; ROLLBACK re-registers it
        self._txn_snap: dict | None = None
        self._txn_aborted = False

    def close(self) -> None:
        import shutil

        shutil.rmtree(self.root, ignore_errors=True)

    # -- transactions (reference transaction_context.cpp semantics,
    #    probed on DuckDB 1.0: aborted txn refuses everything but
    #    COMMIT/ROLLBACK; COMMIT of an aborted txn silently rolls back;
    #    binder errors do NOT abort, constraint violations do)

    def _txn_restore(self) -> None:
        eng = self._engine
        for name in set(self.ctas) - set(self._txn_snap):
            self.spark.catalog.dropTempView(name)
            eng.tables.pop(name, None)
        for name, df in self._txn_snap.items():
            if self.ctas.get(name) is not df:
                df.createOrReplaceTempView(name)
                eng.tables[name] = df
        self.ctas = dict(self._txn_snap)
        # catalog DDL (sequences, indexes, views, schemas) rolls back;
        # sequence VALUE state does not (probed: nextval survives
        # ROLLBACK)
        eng._sequences = dict(self._txn_seq_snap)
        eng._art_indexes = dict(self._txn_art_snap)
        eng._restore_catalog(*self._txn_catalog_snap)

    def _txn_statement(self, verb: str) -> None:
        if verb == "begin":
            if self._txn_snap is not None:
                # probed: a nested BEGIN also ABORTS the open transaction
                self._txn_aborted = True
                raise SqlLogicError(
                    "TransactionContext Error: cannot start a "
                    "transaction within a transaction"
                )
            eng = self._engine
            self._txn_snap = dict(self.ctas)
            self._txn_seq_snap = dict(eng._sequences)
            self._txn_art_snap = dict(eng._art_indexes)
            # engine-side catalog DDL (CREATE VIEW/SCHEMA) is
            # transactional too — same snapshot discipline
            self._txn_catalog_snap = (dict(eng._views), set(eng._schemas))
            self._txn_aborted = False
            return
        if self._txn_snap is None:
            raise SqlLogicError(
                f"TransactionContext Error: cannot {verb} - no "
                "transaction is active"
            )
        if verb == "rollback" or self._txn_aborted:
            self._txn_restore()
        self._txn_snap = None

    def execute(self, sql: str):
        """Returns a DataFrame (queries) or None (statements)."""
        from data_chunk_compaction_in_duckdb_spark import dialect
        from data_chunk_compaction_in_duckdb_spark import prepared as _prep
        from data_chunk_compaction_in_duckdb_spark.storage import dmlsql

        # DuckDB expression grammar first, same as Engine.sql — DML
        # fragments and CTAS bodies accept the same surface as SELECTs
        expr = dialect.rewrite_expressions(sql)
        if expr is not None:
            sql = expr
        kind = dialect.classify_statement(sql)
        if kind == "txn":
            verb = dmlsql.parse_txn_verb(sql)
            if verb is not None:
                self._txn_statement(verb)
                return None
        if self._txn_snap is not None and self._txn_aborted:
            raise SqlLogicError(
                "TransactionContext Error: Current transaction is "
                "aborted (please ROLLBACK)"
            )
        if kind == "prepared":
            # same shared dispatch as Engine.sql; prepared DML re-enters
            # this context's own router
            handled, result = _prep.dispatch(
                self._prepared,
                sql,
                lambda bound, binds: self._engine.sql(
                    bound, **_prep.fold_args(self.spark, binds)
                ),
                self.execute,
            )
            if handled:
                return result
        elif kind == "table_ddl":
            if self._table_ddl(sql):
                return None
        elif kind == "dml":
            if self._dml(sql):
                return None
        elif kind == "query" and _PRAGMA_TABLE_INFO_RE.search(sql):
            sql = self._sub_pragma_table_info(sql)
        return self._engine.sql(sql)

    def _sub_pragma_table_info(self, sql: str) -> str:
        from data_chunk_compaction_in_duckdb_spark import introspect
        from data_chunk_compaction_in_duckdb_spark.dialect import (
            sub_outside_literals,
        )

        # one view PER referenced table: a spec may join
        # pragma_table_info('t1') with pragma_table_info('t2')
        names = (m.group(1) for m in _PRAGMA_TABLE_INFO_RE.finditer(sql))
        for tname in dict.fromkeys(names):
            introspect.pragma_table_info(
                self.spark, tname
            ).createOrReplaceTempView(f"__pti_{tname}")
        return sub_outside_literals(
            _PRAGMA_TABLE_INFO_RE, lambda m: f"__pti_{m.group(1)}", sql
        )

    # -- CTAS tables and the indexes over them

    def _table_ddl(self, sql: str) -> bool:
        """CREATE [UNIQUE] INDEX / DROP INDEX through Engine.create_index's
        bucketed ART analog, and CREATE [OR REPLACE] TABLE AS to a
        file-local temp view.  False when the grammar does not match."""
        eng = self._engine
        m = _CREATE_INDEX_RE.match(sql)
        if m:
            import os

            unique, name, table = bool(m.group(1)), m.group(2), m.group(3)
            cols = [c.strip() for c in m.group(4).split(",") if c.strip()]
            if name in eng._art_indexes:
                raise SqlLogicError(
                    f'Catalog Error: Index with name "{name}" already exists'
                )
            if table not in self.ctas:
                raise SqlLogicError(
                    f"Catalog Error: Table with name {table} does not exist"
                )
            missing = set(cols) - set(self.ctas[table].columns)
            if missing:
                raise SqlLogicError(
                    f'Binder Error: Table "{table}" does not have columns '
                    f"{sorted(missing)}"
                )
            self._generation += 1
            eng.create_index(
                table,
                cols,
                os.path.join(
                    self.root, "indexes", f"{name}_{self._generation}"
                ),
                n_buckets=2,
                name=name,
                unique=unique,
            )
            return True
        m = _DROP_INDEX_RE.match(sql)
        if m:
            if_exists, name = bool(m.group(1)), m.group(2)
            if name not in eng._art_indexes:
                if if_exists:
                    return True
                raise SqlLogicError(
                    f"Catalog Error: Index with name {name} does not exist"
                )
            eng.drop_index(name)
            return True
        m = _CTAS_RE.match(sql)
        if m:
            or_replace, name, select = bool(m.group(1)), m.group(2), m.group(3)
            if name in self.ctas and not or_replace:
                raise SqlLogicError(
                    f'Catalog Error: Table with name "{name}" already exists'
                )
            df = self.spark.sql(select.rstrip().rstrip(";"))
            df.createOrReplaceTempView(name)
            self.ctas[name] = df
            eng.tables[name] = df
            # DuckDB's CREATE OR REPLACE TABLE silently drops dependent
            # indexes (probed) — mirror it
            for iname in [
                i for i, info in eng._art_indexes.items()
                if info["table"] == name
            ]:
                del eng._art_indexes[iname]
            return True
        return False

    def _replace_table(self, name: str, df) -> None:
        df = df.localCheckpoint(eager=True)
        df.createOrReplaceTempView(name)
        self.ctas[name] = df
        self._engine.tables[name] = df

    def _check_unique(self, name: str, df) -> None:
        """ART UNIQUE enforcement after an append or update (reference
        test/sql/index unique-violation grid; DuckDB updates the index
        per row).  DuckDB's ART UNIQUE index admits any number of NULL
        keys (probed: two NULL-key inserts under a unique index
        succeed) — NULLs compare unequal, so only fully-non-NULL keys
        take part in the duplicate check."""
        for iname, info in self._engine._art_indexes.items():
            if info["table"] != name or not info["unique"]:
                continue
            cols = list(info["columns"])
            dup = (
                df.na.drop(subset=cols)
                .groupBy(*cols)
                .count()
                .filter("count > 1")
                .limit(1)
                .count()
            )
            if dup:
                # a constraint violation ABORTS an open transaction
                # (probed DuckDB behavior)
                if self._txn_snap is not None:
                    self._txn_aborted = True
                raise SqlLogicError(
                    "Constraint Error: Duplicate key violates unique "
                    f'index "{iname}" on {name}({", ".join(cols)})'
                )

    def _require_ctas(self, name: str):
        if name not in self.ctas:
            raise SqlLogicError(
                f"Catalog Error: Table with name {name} does not exist"
            )
        return self.ctas[name]

    def _dml(self, sql: str) -> bool:
        """TRUNCATE / INSERT / DELETE / UPDATE on CTAS tables.  False
        when the grammar does not match."""
        from pyspark.sql import functions as F

        from data_chunk_compaction_in_duckdb_spark.storage import dmlsql

        tr = dmlsql.parse_truncate(sql)
        if tr is not None:
            self._replace_table(tr, self._require_ctas(tr).limit(0))
            return True
        ins = dmlsql.parse_insert(sql)
        if ins is not None:
            name, collist, body, mode = ins
            cur = self._require_ctas(name)
            if body.upper().startswith("VALUES"):
                body = f"SELECT * FROM ({body})"
            new = self._engine.sql(body)
            # positional insert: align names/types to the target schema;
            # a column list binds listed columns and NULLs the rest
            if collist is not None:
                missing = set(collist) - set(cur.columns)
                if missing:
                    raise SqlLogicError(
                        f'Binder Error: Column "{sorted(missing)[0]}" '
                        f"does not exist in table {name}"
                    )
                new = new.toDF(*collist)
                new = new.select(
                    *[
                        new[c] if c in collist else F.lit(None).alias(c)
                        for c in cur.columns
                    ]
                )
            else:
                new = new.toDF(*cur.columns)
            for f in cur.schema.fields:
                new = new.withColumn(
                    f.name, new[f.name].cast(f.dataType)
                )
            if mode is not None:
                # OR REPLACE / OR IGNORE need a UNIQUE index on the
                # target (probed DuckDB error text on an unindexed one)
                ukeys = [
                    list(info["columns"])
                    for info in self._engine._art_indexes.values()
                    if info["table"] == name and info["unique"]
                ]
                if not ukeys:
                    raise SqlLogicError(
                        "Binder Error: There are no UNIQUE/PRIMARY KEY "
                        "Indexes that refer to this table, ON CONFLICT "
                        "is a no-op"
                    )
                keys = ukeys[0]
                if mode == "ignore":
                    new = new.join(
                        cur.select(*keys), keys, "left_anti"
                    )
                else:  # replace
                    cur = cur.join(
                        new.select(*keys).distinct(), keys, "left_anti"
                    )
            merged = cur.unionByName(new)
            self._check_unique(name, merged)
            self._replace_table(name, merged)
            return True
        d = dmlsql.parse_delete(sql)
        if d is not None:
            name, where, using = d
            cur = self._require_ctas(name)
            if using is not None:
                from data_chunk_compaction_in_duckdb_spark.operators.mutations import (  # noqa: E501
                    delete_using,
                    prefix_source,
                )

                srcname, alias = using
                src_pref = prefix_source(self.spark.table(srcname))
                cond = F.expr(
                    dmlsql.rewrite_qualified(where or "TRUE", name, alias)
                )
                new = delete_using(cur, src_pref, cond)
            else:
                cond = F.expr(where) if where else F.lit(True)
                new = cur.filter(~cond | cond.isNull())
            self._replace_table(name, new)
            return True
        u = dmlsql.parse_update(sql)
        if u is not None:
            name, assigns, where, from_ = u
            cur = self._require_ctas(name)
            if from_ is not None:
                from data_chunk_compaction_in_duckdb_spark.operators.mutations import (  # noqa: E501
                    prefix_source,
                    update_from,
                )

                srcname, alias = from_
                src_pref = prefix_source(self.spark.table(srcname))
                cond = F.expr(
                    dmlsql.rewrite_qualified(where or "TRUE", name, alias)
                )
                exprs = {
                    c: F.expr(dmlsql.rewrite_qualified(e, name, alias))
                    for c, e in assigns.items()
                }
                missing = set(exprs) - set(cur.columns)
                if missing:
                    raise SqlLogicError(
                        f'Binder Error: Referenced column '
                        f'"{sorted(missing)[0]}" not found'
                    )
                self._replace_table(
                    name, update_from(cur, src_pref, cond, exprs)
                )
                return True
            from data_chunk_compaction_in_duckdb_spark.operators.mutations import (  # noqa: E501
                apply_assignments,
            )

            cond = F.expr(where) if where else F.lit(True)
            for col in assigns:
                if col not in cur.columns:
                    raise SqlLogicError(
                        f'Binder Error: Referenced column "{col}" not found'
                    )
            new = apply_assignments(
                cur, cond, {c: F.expr(e) for c, e in assigns.items()}
            )
            # an UPDATE re-inserts into unique ART indexes (reference:
            # delete+insert per updated row) — enforce like INSERT does
            self._check_unique(name, new)
            self._replace_table(name, new)
            return True
        return False


def run_file(spark, path: str) -> int:
    """Execute every directive in `path` (engine-surface statements via
    EngineSqlContext, the rest via spark.sql); returns the number of
    directives run.  Raises SqlLogicError on first failure."""
    count = 0
    ctx = EngineSqlContext(spark)
    try:
        for rec in parse_file(path):
            where = f"{path}:{rec.line}"
            if rec.kind == "statement_ok":
                try:
                    df = ctx.execute(rec.sql)
                    # DDL/DML execute eagerly; SELECTs need an action.
                    if df is not None and df.columns:
                        df.collect()
                except Exception as e:  # noqa: BLE001
                    raise SqlLogicError(
                        f"{where}: statement ok failed: {e}"
                    ) from e
            elif rec.kind == "statement_error":
                try:
                    df = ctx.execute(rec.sql)
                    if df is not None and df.columns:
                        df.collect()
                except Exception:  # noqa: BLE001
                    pass
                else:
                    raise SqlLogicError(
                        f"{where}: statement error did not raise"
                    )
            else:
                try:
                    rows = ctx.execute(rec.sql).collect()
                except Exception as e:  # noqa: BLE001
                    raise SqlLogicError(f"{where}: query failed: {e}") from e
                got = [render_row(tuple(r), rec.types) for r in rows]
                exp = list(rec.expected)
                if rec.sortmode == "rowsort":
                    got.sort()
                    exp.sort()
                if got != exp:
                    diff = "\n".join(
                        f"  got: {g!r}\n  exp: {e!r}"
                        for g, e in list(zip(got + ["<none>"] * len(exp),
                                             exp + ["<none>"] * len(got)))[:5]
                    )
                    raise SqlLogicError(
                        f"{where}: {len(got)} rows vs {len(exp)} expected\n{diff}"
                    )
            count += 1
    finally:
        ctx.close()
    return count

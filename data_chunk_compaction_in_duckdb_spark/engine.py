"""User-facing facade — the analog of the reference's embedded API
(``DuckDB db; Connection con; con.Query(sql)``, SURVEY.md §3 entry
points 1-3).

A user of the reference switches like this::

    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.1")
    eng.sql("SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1").show()
    eng.sql("SELECT * FROM orders WHERE o_totalprice > :p", p=400000)  # prepared
    eng.table("lineitem").filter(...)                                  # DataFrame API
    eng.explain(df)                                                    # EXPLAIN
    eng.compact(df)                                                    # compaction layer

``Engine.sql`` classifies each statement once and hands it to one
handler; its docstring lists the statement kinds.  ``sql()`` and
``table()`` return plain DataFrames: compaction is never implicit, the
caller places ``compact()`` where the stream fragments, as the reference
places CompactingPhysicalOperator (physical_operator.cpp:250-311).
"""

from __future__ import annotations

import re as _re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from data_chunk_compaction_in_duckdb_spark import catalog as _catalog
from data_chunk_compaction_in_duckdb_spark import dialect, local_exec, prepared, settings
from data_chunk_compaction_in_duckdb_spark.session import get_spark

# -- statement grammars, grouped by the handler that owns them

_CREATE_VIEW_RE = _re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.*?);?\s*$",
    _re.I | _re.S,
)
_DROP_VIEW_RE = _re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", _re.I
)
_CREATE_SCHEMA_RE = _re.compile(
    r"^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*;?\s*$", _re.I
)
_DROP_SCHEMA_RE = _re.compile(
    r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", _re.I
)
_EXPLAIN_RE = _re.compile(r"^\s*EXPLAIN\s+(ANALYZE\s+)?(.*)$", _re.I | _re.S)
_VACUUM_RE = _re.compile(r"^\s*VACUUM(\s+ANALYZE)?\s*;?\s*$", _re.I)
_CHECKPOINT_RE = _re.compile(r"^\s*CHECKPOINT(\s+\w+)?\s*;?\s*$", _re.I)
_EXPORT_DB_RE = _re.compile(
    r"^\s*EXPORT\s+DATABASE\s+'([^']+)'"
    r"(?:\s*\(\s*FORMAT\s+'?(\w+)'?\s*\))?\s*;?\s*$",
    _re.I,
)
_IMPORT_DB_RE = _re.compile(
    r"^\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*$", _re.I
)
_DESCRIBE_SEL_RE = _re.compile(r"^\s*DESCRIBE\s+(SELECT\b.*)$", _re.I | _re.S)
_DESCRIBE_TBL_RE = _re.compile(r"^\s*DESCRIBE\s+(\w+)\s*;?\s*$", _re.I)
_SHOW_TABLES_RE = _re.compile(r"^\s*SHOW\s+(?:ALL\s+)?TABLES\s*;?\s*$", _re.I)
_SUMMARIZE_RE = _re.compile(r"^\s*SUMMARIZE\s+(\w+)\s*;?\s*$", _re.I)
# catalog table functions, each backed by the Engine method of its name
_CATALOG_TF_RE = _re.compile(
    r"\b(duckdb_(?:tables|views|schemas|types|keywords|functions|settings"
    r"|sequences|indexes))\s*\(\s*\)",
    _re.I,
)


def _plain(value: Any) -> Any:
    """A numpy scalar argument as the Python value it holds: ``spark.sql``
    refuses a numpy one (``F.lit`` wraps it in a cast), and a recipe key
    takes only ``int`` and ``str``."""
    import numpy as np

    return value.item() if isinstance(value, (np.bool_, np.number, np.str_)) else value


class Engine:
    """One engine instance ≈ one reference Connection: a SparkSession with
    the fixture catalog registered as temp views."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str = _catalog.DEFAULT_SF_DIR,
        register: bool = True,
    ) -> None:
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir
        self.tables: dict[str, DataFrame] = {}
        if register:
            self.tables = _catalog.register_views(self.spark, sf_dir)
        # catalog state: SQL-created views (name -> body) and schemas,
        # sequences, versioned tables, ART and FTS/ANN indexes
        self._views: dict[str, str] = {}
        self._schemas: set[str] = set()
        self._sequences: dict[str, Any] = {}
        self._versioned: dict[str, Any] = {}
        self._art_indexes: dict[str, dict] = {}
        self._indexes: dict[str, Any] = {}
        self._txn = None  # the open storage.transaction.Transaction
        self._root_log = None  # storage.txnlog.RootLog (atomic commit)
        self._prepared = prepared.PreparedStore()
        self._settings = settings.SettingsStore(self.spark)
        # query statements read on the driver ("local") and the reason
        # each other one kept its Spark plan (local_exec.run); recipe
        # hits, misses and why a miss was not recorded (local_exec.Recipes)
        self.local_exec_counts = local_exec.Counts()
        self._recipes = local_exec.Recipes(self.spark)
        self.recipe_counts = self._recipes.counts
        # per-engine temp roots (created lazily, removed on close())
        # and generation counters that keep replaced paths fresh
        self._seq_root: str | None = None
        self._index_root: str | None = None
        self._seq_gen = self._art_gen = self._idx_gen = 0

    # -- entry point 1: SQL string (Connection::Query)

    # statement kind (dialect.classify_statement) -> handler method; a
    # kind without an entry (table_ddl here) is a query for Spark
    _HANDLERS = {
        "dml": "_dml",
        "prepared": "_prepared_statement",
        "catalog_ddl": "_catalog_ddl",
        "sequence_ddl": "_sequence_ddl",
        "explain": "_explain",
        "maintenance": "_maintenance",
        "introspection": "_introspection",
        "settings": "_settings_statement",
    }

    def sql(self, query: str, *args: Any, **params: Any) -> DataFrame | None:
        """Run one SQL statement against the registered catalog: a
        DataFrame for queries and readbacks, None for statements.

        DuckDB's expression grammar is rewritten first
        (``dialect.rewrite_expressions``), so DML fragments, prepared
        bodies and view definitions accept the same surface as plain
        SELECTs.  The statement is then classified once by its leading
        keyword (``dialect.classify_statement``) and handed to one
        handler:

        - txn — BEGIN / START TRANSACTION / COMMIT / ROLLBACK / ABORT
          (reference transaction_context.cpp, test/sql/transactions/):
          staged multi-statement atomicity on the versioned store;
        - dml — INSERT [OR REPLACE|IGNORE] / DELETE [USING] / UPDATE
          [FROM] / TRUNCATE on versioned tables (Spark SQL cannot run
          DML against temp views);
        - prepared — PREPARE / EXECUTE / DEALLOCATE
          (``prepared.dispatch``, test/sql/prepared/): an EXECUTE of a
          query body goes straight to the query handler with its
          arguments bound by Spark's parameterized SQL;
        - catalog_ddl — CREATE/DROP VIEW and SCHEMA;
        - sequence_ddl — CREATE/DROP SEQUENCE (test/sql/catalog/
          sequence/), backed by commit logs under a per-engine root;
        - explain — EXPLAIN [ANALYZE] in DuckDB's (explain_key,
          explain_value) shape;
        - maintenance — VACUUM / CHECKPOINT / EXPORT / IMPORT DATABASE;
        - introspection — DESCRIBE / SHOW TABLES / SUMMARIZE in DuckDB's
          output shapes;
        - settings — SET / RESET / PRAGMA of DuckDB settings and engine
          pragmas (src/main/settings/);
        - query — everything else: catalog table functions
          (``duckdb_tables()`` ...) become temp views, ``nextval``/
          ``currval``/``current_setting`` bind as UDFs, star modifiers
          and QUALIFY are rewritten, and ``spark.sql`` runs the text.
          A tiny read is then run on the driver (``local_exec``): when
          the optimized plan is Project/Filter over one parquet
          relation (a fixture view or a versioned snapshot), every
          conjunct is IS NOT NULL, an integral =/</<=/>/>=/IN against
          literals of the column's type or a string = literal, every
          output is a column or a rename of one, every column type is
          footer-mapped, and the needed column chunks fit under
          ``spark.sql.autoBroadcastJoinThreshold``, pyarrow reads the
          rows inside this call and the result is a DataFrame that
          holds them (``local_exec.LocalFrame``): its ``collect`` makes
          no JVM call, its other actions run over a LocalRelation built
          on first use and no Spark job, and it holds the fixture file
          or the versioned manifest version the view names now — a
          snapshot.  A bigger input or any other shape
          keeps the Spark plan; ``local_exec_counts`` counts the local
          reads and each fallback's reason.  A local read leaves a
          recipe (``local_exec.Recipes``) keyed on the rewritten text
          and the arguments' names and literal types.  The same
          statement again, outside a transaction, is a recipe hit when
          the temp views its plan went through and the session conf
          are unchanged: the new argument values are bound into the
          recipe and pyarrow reads the rows, with no ``spark.sql``,
          optimizer or footer pass.  Anything else (no recipe, a
          failed check, a value its column type cannot hold, an
          error) takes the full path above; ``recipe_counts`` counts
          hits, misses and why a miss was not recorded.

        A handler whose grammar does not match passes the statement on
        to the query handler (``SET spark.sql.x = v``, ``EXECUTE
        IMMEDIATE``, ``CREATE TEMP VIEW``, ``SHOW FUNCTIONS``).  Inside
        an aborted transaction every kind but txn is refused with
        DuckDB's error.

        Named ``:param`` placeholders with ``**params`` and positional
        ``?`` markers with ``*args`` are the prepared-statement path
        (reference client_context.cpp:534-560) — bound by Spark's
        parameterized SQL, never string interpolation.  Inside the SQL
        text Catalyst+AQE own compaction (shuffle-read coalescing)."""
        expr = dialect.rewrite_expressions(query)
        if expr is not None:
            query = expr
        kind = dialect.classify_statement(query)
        if kind == "txn":
            from data_chunk_compaction_in_duckdb_spark.storage import dmlsql

            verb = dmlsql.parse_txn_verb(query)
            if verb is not None:
                {
                    "begin": self.begin,
                    "commit": self.commit_txn,
                    "rollback": self.rollback,
                }[verb]()
                return None
        if self._txn is not None and self._txn.aborted:
            # probed: an aborted transaction refuses every statement
            # except COMMIT/ROLLBACK with the same error text
            from data_chunk_compaction_in_duckdb_spark.storage.transaction import (  # noqa: E501
                TransactionAborted,
            )

            raise TransactionAborted()
        handler = getattr(self, self._HANDLERS.get(kind, "_query"))
        return handler(query, args, params)

    def _query(self, query: str, args: tuple, params: dict) -> DataFrame:
        """The query handler: DuckDB forms Spark's parser lacks, then
        ``spark.sql``."""
        from data_chunk_compaction_in_duckdb_spark.storage import seqsql

        if args and params:
            raise ValueError("use positional ? args or named :params, not both")
        args = tuple(_plain(v) for v in args)
        params = {name: _plain(v) for name, v in params.items()}
        query = self._rewrite_catalog_tfs(query)
        if settings.CURRENT_SETTING_RE.search(query):
            self._register_current_setting_udf()
        if seqsql.SEQFN_RE.search(query):
            # per-row nextval/currval for reference parity: one range
            # claim per Arrow batch (pipelines prefer
            # storage.with_sequence, one claim per DataFrame)
            paths = {n: s.path for n, s in self._sequences.items()}
            nextval_udf, currval_udf = seqsql.make_seq_udfs(paths)
            self.spark.udf.register("nextval", nextval_udf)
            self.spark.udf.register("currval", currval_udf)
        # star modifiers (local rewrite), then QUALIFY (binder rewrite +
        # helper-column drop)
        star = dialect.rewrite_star_modifiers(query)
        if star is not None:
            query = star

        def _resolve_cols(name: str):
            # analysis-only lookup of a session view/table's columns —
            # lets the QUALIFY rewriter apply DuckDB's source-column-
            # over-select-alias precedence for shadowed names
            try:
                return self.spark.table(name).columns
            except Exception:  # noqa: BLE001 — not a resolvable table
                return None

        q = dialect.rewrite_qualify(query, column_resolver=_resolve_cols)
        drop_col = None
        if q is not None:
            query, drop_col, reorder = q
            if args:
                args = tuple(reorder(list(args)))

        def spark_sql() -> DataFrame:
            if args:
                df = self.spark.sql(query, args=list(args))
            elif params:
                df = self.spark.sql(query, args=params)
            else:
                df = self.spark.sql(query)
            return df.drop(drop_col) if drop_col else df

        return self._recipes.read(
            query,
            dict(enumerate(args)) if args else params,
            spark_sql,
            self.local_exec_counts,
            in_txn=self._txn is not None,
        )

    def _rewrite_catalog_tfs(self, query: str) -> str:
        """Materialize each catalog-TF call site (``duckdb_tables()``
        etc., outside literals) into a temp view and rewrite the call —
        the SAME SQL text runs natively in DuckDB."""
        if not _CATALOG_TF_RE.search(query):
            return query
        built: set[str] = set()

        def to_view(m) -> str:
            name = m.group(1).lower()
            if name not in built:
                getattr(self, name)().createOrReplaceTempView(f"__{name}")
                built.add(name)
            return f"__{name}"

        return dialect.sub_outside_literals(_CATALOG_TF_RE, to_view, query)

    # -- dml (reference physical_insert/delete/update.cpp): each
    #    statement is one verb on its target — staged in the open
    #    transaction, or the VersionedTable verb's one-statement commit

    def _dml(self, query: str, args: tuple, params: dict):
        from pyspark.sql import functions as F

        from data_chunk_compaction_in_duckdb_spark.operators.mutations import (  # noqa: E501
            prefix_source,
        )
        from data_chunk_compaction_in_duckdb_spark.storage import dmlsql

        trunc = dmlsql.parse_truncate(query)
        if trunc is not None:
            vt = self._require_versioned(trunc)
            return self._mutate(trunc, vt, "delete_where", F.lit(True))
        ins = dmlsql.parse_insert(query)
        if ins is not None:
            name, collist, body, mode = ins
            vt = self._require_versioned(name)
            if body.upper().startswith("VALUES"):
                rows = self.spark.sql(f"SELECT * FROM ({body})")
            else:
                rows = self.spark.sql(body)
            # positional insert: align names and types to the target's
            # STORED columns (the staged manifest inside a transaction,
            # the latest manifest outside — generated columns are
            # computed at read and never inserted).  With a column
            # list, listed columns bind positionally and unlisted ones
            # take NULL (the store has no column defaults, matching
            # DuckDB's defaultless-column NULL).
            from data_chunk_compaction_in_duckdb_spark.storage import (
                VersionedTable as _VT,
            )

            txn = self._txn
            m = (
                txn.table(name, vt).m
                if txn is not None
                else vt._manifest(vt.latest_version())
            )
            stored = _VT._logical_schema(m).fields
            if collist is not None:
                known = {f.name for f in stored}
                bad = [c for c in collist if c not in known]
                if bad:
                    raise ValueError(
                        f'Binder Error: Column "{bad[0]}" does not exist '
                        f"in table {name}"
                    )
                if len(rows.columns) != len(collist):
                    raise ValueError(
                        "Binder Error: Column list has "
                        f"{len(collist)} entries but {len(rows.columns)} "
                        "values were supplied"
                    )
                rows = rows.toDF(*collist)
                rows = rows.select(
                    *[
                        rows[f.name]
                        if f.name in collist
                        else F.lit(None).alias(f.name)
                        for f in stored
                    ]
                )
            else:
                rows = rows.toDF(*[f.name for f in stored])
            for f in stored:
                rows = rows.withColumn(f.name, rows[f.name].cast(f.dataType))
            if mode is not None:
                # INSERT OR REPLACE / OR IGNORE / ON CONFLICT DO NOTHING
                # (reference physical_insert.cpp on-conflict path;
                # error text probed on a PK-less target)
                pk = [
                    c
                    for c in m.get("constraints", [])
                    if c["type"] == "primary_key"
                ]
                if not pk:
                    raise ValueError(
                        "Binder Error: There are no UNIQUE/PRIMARY KEY "
                        "Indexes that refer to this table, ON CONFLICT "
                        "is a no-op"
                    )
                key_cols = list(pk[0]["columns"])
                if mode == "replace":
                    return self._mutate(name, vt, "merge", rows, key_cols)
                current = txn.read(name, vt) if txn is not None else vt.read()
                rows = rows.join(
                    current.select(*key_cols), key_cols, "left_anti"
                )
            return self._mutate(name, vt, "insert", rows)
        dele = dmlsql.parse_delete(query)
        if dele is not None:
            name, where, using = dele
            vt = self._require_versioned(name)
            if using is None:
                cond = F.expr(where) if where else F.lit(True)
                return self._mutate(name, vt, "delete_where", cond)
            # DELETE ... USING (join-delete, reference physical_delete
            # over a join plan)
            srcname, alias = using
            src_pref = prefix_source(self.spark.table(srcname))
            cond = F.expr(
                dmlsql.rewrite_qualified(where or "TRUE", name, alias)
            )
            return self._mutate(name, vt, "delete_using", src_pref, cond)
        upd = dmlsql.parse_update(query)
        if upd is not None:
            name, assigns, where, from_ = upd
            vt = self._require_versioned(name)
            if from_ is None:
                cond = F.expr(where) if where else F.lit(True)
                exprs = {c: F.expr(e) for c, e in assigns.items()}
                return self._mutate(name, vt, "update_where", cond, exprs)
            # UPDATE ... FROM (join-update)
            srcname, alias = from_
            src_pref = prefix_source(self.spark.table(srcname))
            cond = F.expr(
                dmlsql.rewrite_qualified(where or "TRUE", name, alias)
            )
            exprs = {
                c: F.expr(dmlsql.rewrite_qualified(e, name, alias))
                for c, e in assigns.items()
            }
            return self._mutate(
                name, vt, "update_from", src_pref, cond, exprs
            )
        return self._query(query, args, params)

    def _mutate(self, name: str, vt, verb: str, *args: Any) -> None:
        """Run DML ``verb`` on table ``name``: the Transaction verb then
        the staged view inside a transaction, else the VersionedTable
        verb (a one-statement commit) then the committed view.  Both
        stage on the same storage.versioned._StagedTable."""
        if self._txn is not None:
            getattr(self._txn, verb)(name, vt, *args)
            self._rebind_staged(name, vt)
        else:
            getattr(vt, verb)(*args)
            self._publish_autocommit(name, vt)

    # -- prepared statements (reference test/sql/prepared/,
    #    src/main/prepared_statement.cpp)

    def _prepared_statement(self, query: str, args: tuple, params: dict):
        def run_body(bound: str, binds: dict[str, str]):
            return self._query(
                bound, (), prepared.fold_args(self.spark, binds)
            )

        handled, result = prepared.dispatch(
            self._prepared, query, run_body, self.sql
        )
        return result if handled else self._query(query, args, params)

    # -- view / schema DDL + catalog readback (reference
    #    src/function/table/system/duckdb_tables.cpp, duckdb_views.cpp,
    #    duckdb_schemas.cpp, duckdb_types.cpp, duckdb_keywords.cpp,
    #    duckdb_functions.cpp; test/sql/pg_catalog/)

    def _catalog_ddl(self, query: str, args: tuple, params: dict):
        """CREATE/DROP VIEW and CREATE/DROP SCHEMA — Spark temp views
        plus an engine-side DDL registry so duckdb_views()/
        duckdb_schemas() can read back DuckDB's catalog shape."""
        m = _CREATE_VIEW_RE.match(query)
        if m:
            or_replace, name, body = bool(m.group(1)), m.group(2), m.group(3)
            if name in self._views and not or_replace:
                raise ValueError(
                    f'Catalog Error: View with name "{name}" already exists'
                )
            body = body.strip()
            # a view body may call a catalog TF (DuckDB accepts it);
            # the registry keeps the ORIGINAL body for duckdb_views()
            self.spark.sql(self._rewrite_catalog_tfs(body)).createOrReplaceTempView(
                name
            )
            if name in _catalog.TABLES:
                _catalog.invalidate_views(self.spark)
            self._views = {**self._views, name: body}
            return None
        m = _DROP_VIEW_RE.match(query)
        if m:
            if_exists, name = bool(m.group(1)), m.group(2)
            if name in _catalog.TABLES:
                _catalog.invalidate_views(self.spark)
            if name in self._views:
                del self._views[name]
                self.spark.catalog.dropTempView(name)
                return None
            # not in the engine registry: a Spark-native temp view
            # (CREATE TEMP VIEW passes through to Catalyst) still drops
            if self.spark.catalog.dropTempView(name):
                return None
            if if_exists:
                return None
            raise ValueError(
                f"Catalog Error: View with name {name} does not exist"
            )
        m = _CREATE_SCHEMA_RE.match(query)
        if m:
            if_not_exists, name = bool(m.group(1)), m.group(2)
            if name in self._schemas and not if_not_exists:
                raise ValueError(
                    f'Catalog Error: Schema with name "{name}" already exists'
                )
            self._schemas = self._schemas | {name}
            return None
        m = _DROP_SCHEMA_RE.match(query)
        if m:
            if_exists, name = bool(m.group(1)), m.group(2)
            if name not in self._schemas:
                if if_exists:
                    return None
                raise ValueError(
                    f"Catalog Error: Schema with name {name} does not exist"
                )
            self._schemas = self._schemas - {name}
            return None
        return self._query(query, args, params)

    def _sequence_ddl(self, query: str, args: tuple, params: dict):
        """CREATE [OR REPLACE] SEQUENCE / DROP SEQUENCE [IF EXISTS]
        (grammar shared with the sqllogic runner: storage/seqsql.py)."""
        from data_chunk_compaction_in_duckdb_spark.storage import seqsql

        created = seqsql.parse_create_sequence(query)
        if created is not None:
            name, or_replace, kwargs = created
            if name in self._sequences and not or_replace:
                raise ValueError(
                    f"Catalog Error: sequence {name} already exists"
                )
            self.create_sequence(name, self._next_seq_path(name), **kwargs)
            return None
        dropped = seqsql.parse_drop_sequence(query)
        if dropped is not None:
            name, if_exists = dropped
            if name not in self._sequences:
                if if_exists:
                    return None
                raise ValueError(
                    f"Catalog Error: sequence {name} does not exist"
                )
            del self._sequences[name]
            return None
        return self._query(query, args, params)

    def _maintenance(self, query: str, args: tuple, params: dict):
        """VACUUM [ANALYZE] / CHECKPOINT / EXPORT DATABASE / IMPORT
        DATABASE statements (reference test/sql/vacuum/,
        checkpoint_manager.cpp, physical_export.cpp:215, test/sql/copy/
        export roundtrips) onto the existing APIs:

        - VACUUM sweeps every versioned table's unreferenced data files
          (versioned.vacuum — the reference's checkpoint truncation);
          VACUUM ANALYZE additionally recomputes nothing here because
          zone maps refresh at every commit (stats ride the manifest).
        - CHECKPOINT folds each versioned table's live set into few
          files.
        - EXPORT DATABASE '<dir>' [(FORMAT csv|parquet)] writes every
          engine-created table (versioned + CTAS) plus a schema.sql DDL
          record (sources/summary.export_database).
        - IMPORT DATABASE '<dir>' re-registers every exported table.

        Probed: DuckDB accepts VACUUM and CHECKPOINT inside an open
        transaction without touching the staged state — both are no-ops
        there (working under a pinned base would race the staged
        snapshot or manufacture a commit conflict).
        """
        if _VACUUM_RE.match(query):
            # DuckDB's VACUUM never destroys history, so the statement
            # sweeps ORPHAN files only; retention truncation is the
            # explicit Python vacuum(retain_last=...) API.
            if self._txn is None:
                for vt in self._versioned.values():
                    vt.vacuum_orphans()
            return None
        if _CHECKPOINT_RE.match(query):
            if self._txn is None:
                for name, vt in self._versioned.items():
                    vt.checkpoint()
                    self._publish_autocommit(name, vt)
            return None
        m = _EXPORT_DB_RE.match(query)
        if m:
            from data_chunk_compaction_in_duckdb_spark.sources.summary import (
                export_database,
            )

            out_dir, fmt = m.group(1), (m.group(2) or "parquet").lower()
            tables: dict[str, DataFrame] = {}
            for name, vt in self._versioned.items():
                tables[name] = vt.read()
            for name, df in self.tables.items():
                if name not in tables and name not in _catalog.TABLES:
                    tables[name] = df
            export_database(self.spark, tables, out_dir, fmt=fmt)
            return None
        m = _IMPORT_DB_RE.match(query)
        if m:
            from data_chunk_compaction_in_duckdb_spark.sources.summary import (
                import_database,
            )

            fmt = "parquet"
            for name, df in import_database(
                self.spark, m.group(1), fmt=fmt
            ).items():
                df.createOrReplaceTempView(name)
                self.tables[name] = df
            return None
        return self._query(query, args, params)

    def _explain(self, query: str, args: tuple, params: dict):
        """EXPLAIN [ANALYZE] <query> in DuckDB's two-column shape
        (probed: one row, explain_key = 'physical_plan' /
        'analyzed_plan', explain_value = the rendered tree).  EXPLAIN
        renders Spark's formatted physical plan; EXPLAIN ANALYZE
        executes the query and renders the final AQE plan with each
        operator's numOutputRows (plans/metrics.explain_analyze — the
        same instrumentation the reference harvests from its
        profilers, vector_compaction.cpp:83-92)."""
        m = _EXPLAIN_RE.match(query)
        if m is None:
            return self._query(query, args, params)
        analyze, inner = bool(m.group(1)), m.group(2).strip().rstrip(";")
        if not _re.match(r"^\s*(SELECT|WITH|VALUES|TABLE)\b", inner, _re.I):
            raise ValueError(
                "Not implemented Error: EXPLAIN of a non-SELECT "
                "statement is not supported"
            )
        df = self._query(inner, (), {})
        if analyze:
            import time

            from data_chunk_compaction_in_duckdb_spark.plans.metrics import (
                explain_analyze,
            )

            t0 = time.perf_counter()
            ops = explain_analyze(df, execute=True)
            wall = time.perf_counter() - t0
            lines = [
                "Query Profiling Information",
                f"total wall time: {wall:.3f}s",
                "",
            ]
            for op in ops:
                rows = "" if op.rows is None else f"  rows={op.rows}"
                lines.append(f"{'  ' * op.depth}{op.name}{rows}")
            key, value = "analyzed_plan", "\n".join(lines)
        else:
            from data_chunk_compaction_in_duckdb_spark.plans.inspect import (
                explain_str,
            )

            key, value = "physical_plan", explain_str(df, "formatted")
        return self.spark.createDataFrame(
            [(key, value)], "explain_key string, explain_value string"
        )

    def _introspection(self, query: str, args: tuple, params: dict):
        """DESCRIBE <table|SELECT ...> / SHOW [ALL] TABLES / SUMMARIZE
        <table> in DuckDB's output shapes (reference
        test/sql/show_select/, summarize TF).  Spark's native DESCRIBE
        has a different shape, so these must intercept before
        spark.sql."""
        from data_chunk_compaction_in_duckdb_spark import introspect

        m = _DESCRIBE_SEL_RE.match(query)
        if m:
            return introspect.describe_query(self.spark, m.group(1))
        m = _DESCRIBE_TBL_RE.match(query)
        if m:
            name = m.group(1)
            if name in self._sequences:
                return introspect.describe_sequence(self._sequences[name])
            if name in self._versioned:
                return introspect.describe_versioned(self._versioned[name])
            return introspect.describe_table(self.spark, name)
        if _SHOW_TABLES_RE.match(query):
            return introspect.show_tables(self.spark)
        m = _SUMMARIZE_RE.match(query)
        if m:
            from data_chunk_compaction_in_duckdb_spark.sources.summary import (
                summarize,
            )

            return summarize(self.spark.table(m.group(1)))
        return self._query(query, args, params)

    def _settings_statement(self, query: str, args: tuple, params: dict):
        """SET/PRAGMA <known setting or engine pragma> and RESET <name>
        (reference src/main/settings/, test/sql/settings/).  Dotted
        Spark conf keys never match the name grammar, so
        ``SET spark.sql.x = v`` passes on to spark.sql."""
        st = settings.parse_set(query)
        if st is not None:
            name, value, scope = st
            if self._is_setting(name):
                settings.check_scope(name, scope, "set")
                self._settings.set(name, value)
            elif name in self._PRAGMAS:
                # engine pragmas keep working through the SQL form too
                self.pragma(name, value)
            else:
                raise ValueError(
                    "Catalog Error: unrecognized configuration "
                    f'parameter "{name}"'
                )
            return None
        rst = settings.parse_reset(query)
        if rst is not None:
            name, scope = rst
            if self._is_setting(name):
                settings.check_scope(name, scope, "reset")
                self._settings.reset(name)
            elif name in self._PRAGMAS:
                # symmetric with the SET path: unset restores the
                # Spark conf default for pragma-mapped names
                self.spark.conf.unset(self._PRAGMAS[name])
            else:
                raise ValueError(
                    "Catalog Error: unrecognized configuration "
                    f'parameter "{name}"'
                )
            return None
        return self._query(query, args, params)

    def duckdb_tables(self) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_tables(
            self.spark, self._versioned, self._art_indexes
        )

    def duckdb_views(self) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_views(self.spark, self._views)

    def duckdb_schemas(self) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_schemas(self.spark, sorted(self._schemas))

    def duckdb_types(self) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_types(self.spark)

    def duckdb_keywords(self) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_keywords(self.spark)

    def duckdb_functions(self) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_functions(self.spark)

    def _require_versioned(self, name: str):
        vt = self._versioned.get(name)
        if vt is None:
            raise ValueError(
                f"Catalog Error: Table with name {name} does not exist "
                "(DML targets versioned tables; see "
                "create_versioned_table)"
            )
        return vt

    def _rebind_staged(self, name: str, vt) -> None:
        """Read-your-own-writes: inside a transaction the session view
        shows the staged state; other engines reading the store still
        resolve the last COMMITTED manifest (MVCC snapshot)."""
        self._txn.table(name, vt).read().createOrReplaceTempView(name)

    def enable_atomic_commit(self, path: str) -> None:
        """Route multi-table COMMITs through a root transaction log at
        ``path`` (storage.txnlog.RootLog): one O_EXCL link commits every
        staged table atomically — a reader resolving versions through
        ``snapshot_versions()`` can never observe a partial commit.
        Engines sharing the same root path share the commit lock
        (reference transaction_manager.cpp's single commit point)."""
        from data_chunk_compaction_in_duckdb_spark.storage.txnlog import (
            RootLog,
        )

        self._root_log = RootLog(path)

    def snapshot_versions(self) -> dict[str, int]:
        """Atomic {table: version} mapping from the root log (empty
        when atomic commit is not enabled)."""
        log = self._root_log
        return log.snapshot() if log is not None else {}

    def _publish_autocommit(self, name: str, vt) -> None:
        """Rebind the session view after an AUTOCOMMIT mutation and, when
        the root transaction log is enabled, record the new version so
        snapshot_versions() stays current (txnlog.RootLog.note — the
        manifest link already committed, this is visibility only)."""
        vt.read().createOrReplaceTempView(name)
        if self._root_log is not None:
            self._root_log.note({name: (vt, vt.latest_version())})

    # -- transactions (reference src/transaction/transaction_context.cpp,
    #    test/sql/transactions/) — staged multi-statement atomicity onto
    #    the versioned store (storage/transaction.py)

    def begin(self) -> None:
        """BEGIN [TRANSACTION] / START TRANSACTION."""
        from data_chunk_compaction_in_duckdb_spark.storage.transaction import (
            Transaction,
        )

        if self._txn is not None:
            # probed: a nested BEGIN also ABORTS the open transaction
            self._txn.aborted = True
            raise ValueError(
                "TransactionContext Error: cannot start a transaction "
                "within a transaction"
            )
        self._txn = Transaction()
        # catalog DDL (CREATE/DROP VIEW/SCHEMA) is transactional in the
        # reference (probed: a rolled-back CTAS/VIEW vanishes) — pin the
        # registries so ROLLBACK can restore them
        self._txn._catalog_snap = (dict(self._views), set(self._schemas))

    def _restore_catalog(self, views_snap: dict, schemas_snap: set) -> None:
        """Put the view/schema registries (and the Spark temp views
        behind them) back to a snapshot taken at BEGIN."""
        for name in set(self._views) - set(views_snap):
            self.spark.catalog.dropTempView(name)
        for name, body in views_snap.items():
            if self._views.get(name) != body:
                self.spark.sql(
                    self._rewrite_catalog_tfs(body)
                ).createOrReplaceTempView(name)
        self._views = dict(views_snap)
        self._schemas = set(schemas_snap)

    def commit_txn(self) -> dict[str, int]:
        """COMMIT: each staged table publishes ONE manifest commit.
        COMMIT of an aborted transaction silently rolls back (probed
        DuckDB behavior).  On CommitConflictError the transaction is
        closed (the reference also invalidates it) and the error
        re-raises for the caller to retry on fresh state."""
        txn = self._txn
        if txn is None:
            raise ValueError(
                "TransactionContext Error: cannot commit - no "
                "transaction is active"
            )
        self._txn = None
        try:
            if txn.aborted:
                # probed: COMMIT of an aborted txn silently rolls back
                self._restore_catalog(*txn._catalog_snap)
                return {}
            try:
                return txn.commit(root_log=self._root_log)
            except Exception:
                # a conflict-invalidated transaction must not leak its
                # CREATE VIEW / CREATE SCHEMA effects (the reference
                # invalidates the whole transaction, catalog included)
                self._restore_catalog(*txn._catalog_snap)
                raise
        finally:
            self._restore_views(txn)

    def rollback(self) -> None:
        """ROLLBACK / ABORT: discard staging, restore committed views."""
        txn = self._txn
        if txn is None:
            raise ValueError(
                "TransactionContext Error: cannot rollback - no "
                "transaction is active"
            )
        self._txn = None
        self._restore_catalog(*txn._catalog_snap)
        self._restore_views(txn)

    def _restore_views(self, txn) -> None:
        # plain rebind, no root-log note: ending a transaction mutates
        # nothing (a rolled-back/conflicted txn must not grow the log)
        for name in txn._staged:
            vt = self._versioned.get(name)
            if vt is not None:
                vt.read().createOrReplaceTempView(name)

    def _next_seq_path(self, name: str) -> str:
        """Per-engine sequence root (created lazily, removed on
        close()); a generation counter keeps OR REPLACE paths fresh."""
        import os
        import tempfile

        if self._seq_root is None:
            self._seq_root = tempfile.mkdtemp(prefix="engine_seq_")
        self._seq_gen += 1
        return os.path.join(self._seq_root, f"{name}_{self._seq_gen}")

    # -- entry point 3: programmatic DataFrame (embedded C++ driver)
    def table(self, name: str) -> DataFrame:
        if name not in self.tables:
            self.tables[name] = _catalog.load_table(self.spark, self.sf_dir, name)
        return self.tables[name]

    def explain(self, df: DataFrame, mode: str = "formatted") -> str:
        """EXPLAIN (the reference's EXPLAIN ANALYZE harvest point,
        imdb_main.cpp:70-76)."""
        from data_chunk_compaction_in_duckdb_spark.plans import explain_str

        return explain_str(df, mode)

    # -- compaction layer (the research delta)
    def compact(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark.compaction import compact

        return compact(df, **kwargs)

    def pipeline_break(self, df: DataFrame) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark.compaction import pipeline_break

        return pipeline_break(df)

    def profile(self, df: DataFrame):
        from data_chunk_compaction_in_duckdb_spark.compaction import (
            partition_histogram,
        )

        return partition_histogram(df)

    # -- UDF registration (Connection::CreateScalarFunction /
    # CreateAggregateFunction, connection.hpp:164-205): typed scalar
    # functions usable from both SQL and the DataFrame API.
    def create_function(
        self,
        name: str,
        fn: Any,
        return_type: str = "string",
        vectorized: bool = True,
    ) -> None:
        """Register a Python scalar function under ``name`` for SQL use.

        ``vectorized=True`` wraps ``fn`` as an Arrow-batched pandas UDF
        (``fn`` receives/returns pandas Series) — the honest analog of
        the reference's vector-at-a-time C++ UDFs and the only variant
        that belongs anywhere near a hot path.  ``vectorized=False``
        registers a row-at-a-time UDF for non-vectorizable logic."""
        from pyspark.sql.functions import pandas_udf, udf

        if vectorized:
            # pandas_udf infers its eval type from *resolvable* type
            # hints; user modules with `from __future__ import
            # annotations` carry string hints, so stamp real
            # Series->Series annotations matching fn's arity instead.
            import inspect

            import pandas as pd

            params = list(inspect.signature(fn).parameters)
            fn.__annotations__ = {p: pd.Series for p in params}
            fn.__annotations__["return"] = pd.Series
            self.spark.udf.register(name, pandas_udf(fn, return_type))
        else:
            self.spark.udf.register(name, udf(fn, return_type))

    def create_table_function(self, name: str, df: DataFrame) -> None:
        """Expose a DataFrame as a named relation (the table-function /
        CREATE VIEW surface, table_function.hpp)."""
        df.createOrReplaceTempView(name)
        self.tables[name] = df
        if name in _catalog.TABLES:
            # a fixture view was rebound — drop the register_views memo so
            # other callers re-register the originals instead of silently
            # inheriting this engine's override
            _catalog.invalidate_views(self.spark)

    def create_macro(
        self, name: str, params: str, body: str, returns: str = "DOUBLE"
    ) -> None:
        """CREATE MACRO name(args) AS body (DuckDB SQL macros) — Spark's
        SQL-defined temporary function.  Unlike ``create_function`` this
        stays entirely JVM-side: the body is a SQL expression inlined by
        the analyzer, so macros are codegen-compatible and free at any
        scale.  ``params`` is typed ("x DOUBLE, y DOUBLE") because Spark
        SQL functions declare parameter types; DuckDB macros are untyped.
        """
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
            f"RETURNS {returns} RETURN {body}"
        )

    # DuckDB pragma -> dynamic Spark conf.  The reference's benchmark
    # drivers configure the engine this way (SET threads / memory_limit /
    # allocator pragmas, vector_compaction.cpp:50-57); only runtime-
    # settable Spark confs are mapped — memory sizing is submit-time on a
    # cluster, so memory_limit intentionally has no entry.
    _PRAGMAS = {
        # SET threads: the reference's per-query parallelism knob; the
        # runtime-settable Spark equivalent is the shuffle fan-out.
        "threads": "spark.sql.shuffle.partitions",
        # PRAGMA enable_optimizer gates DuckDB's logical optimizer; the
        # Spark optimizer that can be toggled at runtime is AQE.
        "enable_optimizer": "spark.sql.adaptive.enabled",
        # The reference RAISES on integer overflow / bad casts
        # (test/sql/overflow/), and Spark 4's ANSI-on default already
        # matches that error-for-error.  Exposed as a pragma so a user
        # can opt a session into Spark's legacy wrap/NULL semantics (or
        # back); tests/test_overflow_ansi.py pins both modes against
        # DuckDB per expression.
        "ansi_errors": "spark.sql.ansi.enabled",
    }

    def pragma(self, name: str, value: Any) -> None:
        """SET pragma (PragmaStatement surface): translate the reference's
        engine pragmas to their dynamic Spark confs; reject unknown or
        non-runtime-settable pragmas loudly rather than ignoring them.
        DuckDB-catalog settings (threads, memory_limit, TimeZone,
        default_collation, enable_progress_bar) route to the settings
        store so ``pragma``/``SET``/``RESET``/readback stay coherent."""
        if self._is_setting(name):
            self._settings.set(name, value)
            return
        key = self._PRAGMAS.get(name)
        if key is None:
            raise ValueError(
                f"pragma {name!r} has no runtime-settable Spark mapping"
            )
        self.spark.conf.set(key, str(value))

    # -- DuckDB settings surface (reference src/main/settings/,
    #    src/main/config.cpp, test/sql/settings/)

    @staticmethod
    def _is_setting(name: str) -> bool:
        try:
            settings.canonical_name(name)
            return True
        except ValueError:
            return False

    def current_setting(self, name: str) -> Any:
        """Typed readback (DuckDB's ``current_setting()`` scalar)."""
        return self._settings.current(name)

    def duckdb_settings(self) -> DataFrame:
        """duckdb_settings() catalog readback (introspect module)."""
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_settings(self.spark, self._settings)

    def _register_current_setting_udf(self) -> None:
        """SQL-callable ``current_setting(name)`` returning VARCHAR (the
        SQL surface can't be per-name typed through a Python UDF; specs
        CAST on both engines).  Snapshots the store's current rendering
        at registration — re-registered before every query that
        references it, so reads always see the latest SET."""
        snap = {n: self._settings.rendered(n) for n in settings.SETTING_SPECS}
        aliases = {"max_memory": "memory_limit", "timezone": "TimeZone"}

        def _cs(name: str) -> str:
            low = (name or "").lower()
            for k in snap:
                if k.lower() == low:
                    return snap[k]
            if low in aliases:
                return snap[aliases[low]]
            raise ValueError(
                "Catalog Error: unrecognized configuration "
                f'parameter "{name}"'
            )

        self.spark.udf.register("current_setting", _cs, "string")

    def create_udtf(self, name: str, cls: type, return_type: str) -> None:
        """Register a Python UDTF (Spark's table-function analog of the
        reference's Connection::CreateTableFunction for row-generating
        functions): the class's ``eval`` yields output rows, and the
        function becomes SQL-callable both standalone
        (``SELECT * FROM f(x)``) and correlated via ``LATERAL f(t.col)``
        — the TABLE IN-OUT operator surface (§2.2) in the modern API.
        Rows stream Arrow-batched per partition; no driver round-trip."""
        from pyspark.sql.functions import udtf as _udtf

        self.spark.udtf.register(name, _udtf(cls, returnType=return_type))

    def create_index(
        self,
        table: str,
        columns: list[str] | str,
        path: str,
        n_buckets: int = 32,
        name: str | None = None,
        unique: bool = False,
    ) -> None:
        """CREATE INDEX analog (reference `CREATE INDEX ... ON t(cols)`,
        ART index, src/execution/index/art/).  Spark has no row-level
        index; the engine-native acceleration with the same effect on
        the reference's two index uses is a hash-bucketed, sorted
        persistent copy of the table keyed on the indexed columns:

        - INDEX_JOIN: joins between tables bucketed on the same key run
          with zero join-side exchanges (physical_hash_join.cpp's
          co-located build, made durable).
        - point/range lookup: bucket pruning + per-file min/max on the
          sort column skip irrelevant buckets at scan time.

        The registered view for ``table`` is replaced by the indexed
        copy, so subsequent `sql()`/`table()` calls use it transparently
        (the reference's planner picks the ART plan the same way).

        ``unique=True`` enforces key uniqueness on creation (reference:
        a UNIQUE ART index rejects duplicate keys, ART::Insert's
        constraint path) — rows with a NULL in any key column are
        exempt, per SQL semantics.  The index is recorded in the
        catalog and visible through ``duckdb_indexes()``.
        """
        from data_chunk_compaction_in_duckdb_spark.sources import (
            write_bucketed,
        )

        cols = [columns] if isinstance(columns, str) else list(columns)
        idx_name = name or f"idx_{table}_{'_'.join(cols)}"
        df = self.table(table)
        if unique:
            keyed = df.na.drop(subset=cols).select(*cols)
            if keyed.distinct().count() != keyed.count():
                raise ValueError(
                    f"UNIQUE index {idx_name}: duplicate keys in "
                    f"{table}({', '.join(cols)})"
                )
        # unique physical name per index: a table can carry several
        # indexes (reference: many ARTs per table); each lands in its
        # own bucketed copy and the view follows the LATEST layout
        self._art_gen += 1
        phys = f"{table}_idx{self._art_gen}"
        write_bucketed(df, phys, path, cols, n_buckets=n_buckets)
        indexed = self.spark.table(phys)
        indexed.createOrReplaceTempView(table)
        self.tables[table] = indexed
        if table in _catalog.TABLES:
            _catalog.invalidate_views(self.spark)
        self._art_indexes[idx_name] = {
            "table": table,
            "columns": cols,
            "unique": unique,
        }

    def drop_index(self, name: str) -> None:
        """DROP INDEX: removes the catalog entry (the bucketed copy
        stays as plain storage — scanning it without the index is
        always correct, like the reference's heap after DROP INDEX)."""
        del self._art_indexes[name]

    def duckdb_indexes(self) -> DataFrame:
        """duckdb_indexes() over every index registered on this engine
        (reference src/function/table/system/duckdb_indexes.cpp)."""
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_indexes(self.spark, self._art_indexes)

    # -- durable tables (reference CREATE TABLE + storage layer)
    def create_versioned_table(
        self, name: str, df: DataFrame, path: str, **kwargs: Any
    ):
        """CREATE TABLE backed by the durable store (storage/versioned):
        creates the table at ``path`` and registers its latest state as
        temp view ``name`` so `sql()` sees it.  Re-register with
        ``refresh_versioned_view`` after mutations (view re-binding is
        the engine's commit-visibility rule, operators/mutations.py)."""
        from data_chunk_compaction_in_duckdb_spark.storage import (
            VersionedTable,
        )

        vt = VersionedTable.create(self.spark, path, df, **kwargs)
        self._publish_autocommit(name, vt)
        self._versioned[name] = vt
        return vt

    def duckdb_constraints(self) -> DataFrame:
        """duckdb_constraints() over every versioned table registered on
        this engine (reference src/function/table/system/
        duckdb_constraints.cpp)."""
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_constraints(self.spark, self._versioned)

    def refresh_versioned_view(
        self, name: str, vt, version: int | None = None
    ) -> None:
        """Re-bind temp view ``name`` to the table's state AS OF
        ``version`` (default latest) — time travel at the SQL layer."""
        vt.read(version).createOrReplaceTempView(name)

    # -- sequences (reference CREATE SEQUENCE / nextval,
    # test/sql/catalog/sequence/)
    def create_sequence(self, name: str, path: str, **kwargs: Any):
        """CREATE SEQUENCE backed by the commit log at ``path``; handle
        cached on the engine so nextval('name')-style lookups resolve."""
        from data_chunk_compaction_in_duckdb_spark.storage import Sequence

        seq = Sequence.create(self.spark, path, **kwargs)
        self._sequences[name] = seq
        return seq

    def sequence(self, name: str):
        return self._sequences[name]

    def nextval(self, name: str) -> int:
        """nextval('seq') — driver-side single allocation; for per-row
        assignment use storage.with_sequence (one range claim per
        DataFrame, never a per-row counter bottleneck)."""
        return self.sequence(name).nextval()

    def currval(self, name: str) -> int:
        return self.sequence(name).currval()

    # -- introspection (reference SHOW TABLES / DESCRIBE /
    # duckdb_columns(); test/sql/show_select/, test/sql/pg_catalog/)
    def show_tables(self) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.show_tables(self.spark)

    def describe(self, name_or_table) -> DataFrame:
        """DESCRIBE: accepts a view name, a VersionedTable (read
        manifest-only — no data scan), a Sequence, or the name of a
        sequence registered on this engine — every catalog object kind
        the engine creates is DESCRIBE-able."""
        from data_chunk_compaction_in_duckdb_spark import introspect
        from data_chunk_compaction_in_duckdb_spark.storage import (
            Sequence,
            VersionedTable,
        )

        if isinstance(name_or_table, VersionedTable):
            return introspect.describe_versioned(name_or_table)
        if isinstance(name_or_table, Sequence):
            return introspect.describe_sequence(name_or_table)
        if name_or_table in self._sequences:
            return introspect.describe_sequence(self._sequences[name_or_table])
        return introspect.describe_table(self.spark, name_or_table)

    def duckdb_columns(self, tables: list[str] | None = None) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_columns(self.spark, tables)

    def duckdb_sequences(self) -> DataFrame:
        """duckdb_sequences() over every sequence registered on this
        engine (reference src/function/table/system/
        duckdb_sequences.cpp) — one O(1) head read per sequence."""
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.duckdb_sequences(self.spark, self._sequences)

    def show_sequences(self) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark import introspect

        return introspect.show_sequences(self.spark, self._sequences)

    # -- materialized indexes (reference PRAGMA create_fts_index,
    # extension/fts; CREATE INDEX + storage, test/sql/index/)
    def create_fts_index(
        self, name: str, docs: DataFrame, id_col: str, text_col: str
    ):
        """PRAGMA create_fts_index analog: tokenize ``docs`` ONCE into
        versioned postings/doclen tables under the engine's index root;
        query with ``match_bm25``.  ``FTSIndex.append`` keeps it fresh
        delta-only."""
        from data_chunk_compaction_in_duckdb_spark.pipeline import FTSIndex

        idx = FTSIndex.build(
            self.spark, self._next_index_path("fts", name), docs,
            id_col, text_col,
        )
        self._indexes[name] = idx
        return idx

    def create_vector_index(
        self,
        name: str,
        corpus: DataFrame,
        id_col: str,
        vec_col: str,
        dim: int,
        kind: str = "pq",
        **kwargs: Any,
    ):
        """CREATE INDEX analog for the ANN surface: ``kind='pq'``
        (product-quantization codes) or ``'ivf'`` (Voronoi cells), both
        materialized into the versioned store with delta ``append``."""
        from data_chunk_compaction_in_duckdb_spark.pipeline import (
            IVFIndex,
            PQIndex,
        )

        cls_ = {"pq": PQIndex, "ivf": IVFIndex}[kind]
        idx = cls_.build(
            self.spark, self._next_index_path(kind, name), corpus,
            id_col, vec_col, dim, **kwargs,
        )
        self._indexes[name] = idx
        return idx

    def index(self, name: str):
        return self._indexes[name]

    def match_bm25(self, name: str, query_terms: list[str], **kwargs: Any):
        """match_bm25 over a registered FTS index (reference
        extension/fts match_bm25 macro): (doc, score) from the STORED
        postings."""
        return self.index(name).search(query_terms, **kwargs)

    def _next_index_path(self, kind: str, name: str) -> str:
        import os
        import tempfile

        if self._index_root is None:
            self._index_root = tempfile.mkdtemp(prefix="engine_idx_")
        self._idx_gen += 1
        return os.path.join(self._index_root, f"{kind}_{name}_{self._idx_gen}")

    def close(self) -> None:
        import shutil

        for root in (self._seq_root, self._index_root):
            if root:
                shutil.rmtree(root, ignore_errors=True)
        self.spark.stop()

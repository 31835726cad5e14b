"""Copy-on-write versioned parquet tables with time travel and
metadata-only schema evolution.

Reference parity (SURVEY.md §2.1 storage rows):
  - durable table data + per-commit metadata  → data files + JSON
    manifests (reference single_file_block_manager.cpp keeps blocks +
    a metadata chain in one file; here both are separate immutable
    files so a 1000-executor cluster can write data in parallel and
    commit with one metadata rename)
  - WAL / commit protocol (write_ahead_log.cpp) → the manifest IS the
    commit record: data files land first, then the manifest is created
    with O_EXCL.  A crash before the manifest leaves orphan data files
    (cleaned by vacuum) and NO visible half-commit — readers only ever
    see manifested versions.
  - MVCC snapshots (data_table.cpp) → immutability: a reader holding
    version N's file list is isolated from any later commit.
  - time travel / storage_version tests → ``read(version=N)`` resolves
    the old manifest.
  - CHECKPOINT (checkpoint_manager.cpp) → ``checkpoint()`` rewrites the
    live file set into few compacted files as a new version.
  - optimistic concurrency (transaction conflicts,
    test/sql/transactions/) → two writers racing to the same next
    version: exactly one O_EXCL manifest create wins, the loser gets
    CommitConflictError and must rebase (retry on the new latest).
  - ALTER TABLE (test/sql/alter/, src/catalog/ alter paths) →
    ``add_column`` / ``drop_column`` / ``rename_column``.  The manifest
    keeps a LOGICAL→PHYSICAL column mapping (the Iceberg field-ID idea
    expressed with names): files always carry physical names, readers
    project physical→logical, so RENAME and DROP are metadata-only
    commits — zero data rewritten at any table size.  A dropped-then-
    re-added column gets a FRESH physical name (``used_physical``
    ledger), so old files can never resurrect the dropped values.

Scale shape (100 TB): mutations never rewrite the table — DELETE /
UPDATE / MERGE first find the AFFECTED files (a distributed
semi-search collecting only distinct file NAMES, bounded by file
count, never rows), carry every untouched file forward by reference,
and rewrite only the touched ones.  The driver-side state is manifest
metadata: O(files), not O(rows).  The one O(rows) ALTER is
``add_column`` with a non-null default, which backfills eagerly to
match the reference's ALTER ADD COLUMN DEFAULT semantics exactly
(DuckDB also materializes the default column; an explicit NULL
inserted later must stay NULL, which a read-time COALESCE would
repaint).

One DML path: every mutation verb (``insert``, ``delete_where``,
``update_where``, ``merge``, ``delete_keys``, ``delete_using``,
``update_from``) stages its statement on a ``_StagedTable`` — the same
class a BEGIN..COMMIT transaction stages on (storage/transaction.py) —
and publishes it at base+1 as a one-statement commit.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterable, Mapping
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType


class CommitConflictError(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency, reference transaction conflict errors)."""


class ConstraintViolation(ValueError):
    """A NOT NULL / CHECK / PRIMARY KEY constraint rejected a commit
    (reference test/sql/constraints/, src/storage/table/ constraint
    verification)."""


def _strip_uri(name: str) -> str:
    return name[7:] if name.startswith("file://") else name


class VersionedTable:
    """A table rooted at ``path`` with ``data/`` (immutable parquet,
    physical column names) and ``_log/`` (one ``<version>.json``
    manifest per commit)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, "_log")
        self.data_dir = os.path.join(path, "data")

    # ---------------------------------------------------------- commits

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        constraints: list[dict] | None = None,
        generated: dict[str, str] | None = None,
    ) -> "VersionedTable":
        """CREATE TABLE AS: version 0 holds df's rows (identity
        logical→physical mapping).  ``constraints`` entries:
        ``{"type": "not_null", "column": c}``,
        ``{"type": "check", "expr": sql}`` (NULL passes, like SQL
        CHECK), ``{"type": "primary_key", "columns": [...]}``.
        ``generated`` maps VIRTUAL column names to SQL expressions over
        the stored columns (reference test/sql/generated_columns/ —
        the reference's VIRTUAL kind: computed at read, never stored,
        zero bytes at any scale).  Later entries may reference earlier
        ones; constraints apply to STORED columns only."""
        t = cls(spark, path)
        t._validate(df, constraints or [], current=None)
        os.makedirs(t.log_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        mapping = {f.name: f.name for f in df.schema.fields}
        files = t._write_data(df, mapping)
        t._commit(
            0,
            "create",
            files,
            schema=df.schema,
            mapping=mapping,
            used_physical=sorted(mapping.values()),
            constraints=constraints or [],
            generated=generated or {},
        )
        return t

    def latest_version(self) -> int:
        """O(1) head lookup: the ``_last`` pointer file hints at the
        newest version and a forward existence-probe makes it exact (a
        racing commit may have advanced past the hint; the pointer is
        written after the manifest so it never runs ahead).  Missing or
        stale-beyond-vacuum pointers fall back to one directory glob —
        the previous O(versions) path, now the cold path only."""
        hint = self._read_last_pointer()
        if hint is not None and os.path.exists(
            os.path.join(self.log_dir, f"{hint:08d}.json")
        ):
            v = hint
            while os.path.exists(
                os.path.join(self.log_dir, f"{v + 1:08d}.json")
            ):
                v += 1
            return v
        versions = [
            int(os.path.basename(p)[:-5])
            for p in glob.glob(os.path.join(self.log_dir, "*.json"))
        ]
        if not versions:
            raise FileNotFoundError(f"no manifests under {self.log_dir}")
        return max(versions)

    def _read_last_pointer(self) -> int | None:
        try:
            with open(os.path.join(self.log_dir, "_last")) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _write_last_pointer(self, version: int) -> None:
        """Best-effort monotonic hint, published atomically (torn reads
        impossible; a lost race just leaves a slightly stale hint that
        the forward probe corrects)."""
        p = os.path.join(self.log_dir, "_last")
        tmp = f"{p}.tmp.{os.getpid()}.{version}"
        try:
            with open(tmp, "w") as f:
                f.write(str(version))
            os.replace(tmp, p)
        except OSError:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def _manifest(self, version: int) -> dict:
        p = os.path.join(self.log_dir, f"{version:08d}.json")
        with open(p) as f:
            return json.load(f)

    def _build_manifest(
        self,
        version: int,
        op: str,
        files: list[str],
        schema: StructType,
        mapping: dict[str, str],
        used_physical: list[str],
        constraints: list[dict] | None = None,
        generated: dict[str, str] | None = None,
    ) -> dict:
        """Assemble (but do not publish) a manifest — the prepare half
        of the commit, so a multi-table transaction can stage every
        table's manifest before the single root-log commit point."""
        # Per-file zone maps ride in the manifest (reference row-group
        # statistics, src/storage/statistics/, lifted to file grain):
        # carried-forward files reuse the previous manifest's entry, new
        # files get one parquet-footer read each — O(new files), local.
        # A new file whose footer counts 0 rows (the survivors of a
        # TRUNCATE, or of a DELETE that empties whole files) leaves the
        # file set: no later read or lookup opens it.
        prev_stats: dict = {}
        if version > 0:
            try:
                prev_stats = self._manifest(version - 1).get("stats", {})
            except FileNotFoundError:
                pass
        stats = {}
        for f in files:
            entry = prev_stats.get(f)
            if entry is None:
                n_rows, entry = _file_stats(os.path.join(self.path, f))
                if n_rows == 0:
                    continue
            stats[f] = entry
        return {
            "version": version,
            "op": op,
            "files": sorted(stats),
            "schema": schema.json(),
            "mapping": mapping,
            "used_physical": used_physical,
            "constraints": constraints or [],
            "generated": generated or {},
            "stats": stats,
        }

    def _link_manifest(self, manifest: dict) -> None:
        """Publish a built manifest — the atomic half of the commit.

        Write-then-link publish: the manifest appears under its final
        name fully written AND exclusively (os.link fails atomically on
        a racing commit of the same version) — a bare O_EXCL+write
        would let a concurrent latest_version()/read() glob a created-
        but-not-yet-written file and fail parsing it."""
        version = manifest["version"]
        p = os.path.join(self.log_dir, f"{version:08d}.json")
        tmp = f"{p}.tmp.{os.getpid()}.{id(manifest)}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, p)
        except FileExistsError:
            raise CommitConflictError(
                f"version {version} already committed under {self.log_dir}"
            ) from None
        finally:
            os.unlink(tmp)
        self._write_last_pointer(version)

    def _commit(
        self,
        version: int,
        op: str,
        files: list[str],
        schema: StructType,
        mapping: dict[str, str],
        used_physical: list[str],
        constraints: list[dict] | None = None,
        generated: dict[str, str] | None = None,
    ) -> None:
        self._link_manifest(
            self._build_manifest(
                version,
                op,
                files,
                schema,
                mapping,
                used_physical,
                constraints=constraints,
                generated=generated,
            )
        )

    def _write_data(self, df: DataFrame, mapping: dict[str, str]) -> list[str]:
        """Write df (logical column names) as fresh immutable parquet
        under physical names; return file names relative to the root."""
        renamed = df.select(
            *[F.col(lg).alias(ph) for lg, ph in mapping.items()]
        )
        sub = os.path.join(self.data_dir, uuid.uuid4().hex)
        renamed.write.parquet(sub)
        return [
            os.path.relpath(p, self.path)
            for p in glob.glob(os.path.join(sub, "*.parquet"))
        ]

    # ---------------------------------------------------------- reads

    @staticmethod
    def _logical_schema(m: dict) -> StructType:
        return StructType.fromJson(json.loads(m["schema"]))

    def _physical_schema(self, m: dict) -> StructType:
        schema = self._logical_schema(m)
        mapping = m["mapping"]
        return StructType(
            [
                StructField(mapping[f.name], f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

    @staticmethod
    def _apply_generated(df: DataFrame, m: dict) -> DataFrame:
        for name, expr in m.get("generated", {}).items():
            df = df.withColumn(name, F.expr(expr))
        return df

    def read(
        self,
        version: int | None = None,
        filters: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """SELECT * FROM t [AS OF version]: read physical columns,
        project to the version's logical names, then compute VIRTUAL
        generated columns.  A column added after a file was written is
        absent there — parquet yields NULL.

        ``filters`` — conjunctive ``(logical_col, op, value)`` with op
        in {=, <, <=, >, >=} — prunes files by the manifest zone maps
        BEFORE any scan is planned; pruning is conservative (a file
        with no recorded range survives), so the caller still applies
        the full predicate.  At 100 TB this is the difference between
        opening every object-store file and opening the few whose
        [min,max] can match."""
        v = self.latest_version() if version is None else version
        m = self._manifest(v)
        schema = self._logical_schema(m)
        files = m["files"]
        if filters:
            mapping = m["mapping"]
            phys_filters = [
                (mapping[col], op, val)
                for col, op, val in filters
                if col in mapping
            ]
            stats = {f: m.get("stats", {}).get(f, {}) for f in files}
            files = prune_by_stats(stats, phys_filters)
        if not files:
            return self._apply_generated(
                self.spark.createDataFrame([], schema), m
            )
        return self._read_files_logical(m, files)

    def history(self) -> list[dict]:
        """Commit log, oldest first: version / op / file count.
        Versions whose manifests ``vacuum()`` already folded away are
        skipped — the log is O(retained versions), mirroring the
        reference's WAL truncation at checkpoint."""
        out = []
        for v in range(self.latest_version() + 1):
            try:
                m = self._manifest(v)
            except FileNotFoundError:
                continue
            out.append(
                {"version": v, "op": m["op"], "n_files": len(m["files"])}
            )
        return out

    # -------------------------------------------------------- constraints

    def constraints(self) -> list[dict]:
        return self._manifest(self.latest_version()).get("constraints", [])

    def _validate(
        self,
        rows: DataFrame,
        constraints: list[dict],
        current: DataFrame | None,
    ) -> None:
        """Enforce constraints on ``rows`` before a commit — every check
        is a distributed count (the driver sees violation COUNTS, never
        rows).  ``current`` is the relation new primary keys must also
        not collide with (None for create / whole-table validation).
        CHECK follows SQL semantics: NULL passes, only FALSE rejects."""
        for c in constraints:
            kind = c["type"]
            if kind == "not_null":
                n = rows.filter(F.col(c["column"]).isNull()).count()
                if n:
                    raise ConstraintViolation(
                        f"NOT NULL {c['column']}: {n} null row(s)"
                    )
            elif kind == "check":
                n = rows.filter(F.expr(f"NOT ({c['expr']})")).count()
                if n:
                    raise ConstraintViolation(
                        f"CHECK ({c['expr']}): {n} violating row(s)"
                    )
            elif kind == "primary_key":
                cols = c["columns"]
                for k in cols:
                    n = rows.filter(F.col(k).isNull()).count()
                    if n:
                        raise ConstraintViolation(
                            f"PRIMARY KEY {cols}: {n} null {k} row(s)"
                        )
                dups = (
                    rows.groupBy(*cols)
                    .count()
                    .filter(F.col("count") > 1)
                    .count()
                )
                if dups:
                    raise ConstraintViolation(
                        f"PRIMARY KEY {cols}: {dups} duplicated key(s)"
                    )
                if current is not None:
                    hits = rows.join(
                        current.select(*cols), cols, "semi"
                    ).count()
                    if hits:
                        raise ConstraintViolation(
                            f"PRIMARY KEY {cols}: {hits} row(s) collide "
                            "with existing keys"
                        )
            else:
                raise ValueError(f"unknown constraint type: {kind}")

    def add_constraint(self, constraint: dict) -> int:
        """ALTER TABLE ADD CONSTRAINT: validate the WHOLE current table,
        then commit the constraint as metadata."""
        self._validate(self.read(), [constraint], current=None)
        v = self.latest_version()
        m = self._manifest(v)
        self._commit(
            v + 1, "add_constraint", m["files"],
            self._logical_schema(m), m["mapping"], m["used_physical"],
            [*m.get("constraints", []), constraint],
            m.get("generated", {}),
        )
        return v + 1

    def drop_constraint(self, constraint: dict) -> int:
        """ALTER TABLE DROP CONSTRAINT (metadata-only)."""
        v = self.latest_version()
        m = self._manifest(v)
        remaining = [
            c for c in m.get("constraints", []) if c != constraint
        ]
        self._commit(
            v + 1, "drop_constraint", m["files"],
            self._logical_schema(m), m["mapping"], m["used_physical"],
            remaining, m.get("generated", {}),
        )
        return v + 1

    # ---------------------------------------------------------- mutations
    #
    # Every DML verb is the same algorithm: stage the statement on a
    # fresh _StagedTable pinned at the latest version — exactly what a
    # transaction does per table — and publish base+1.  An autocommit
    # statement is a one-statement transaction (the reference runs both
    # through transaction_context.cpp); unlike a transaction, it commits
    # a version even when it matched nothing.

    def _read_files_logical(
        self, m: dict, files: Iterable[str]
    ) -> DataFrame:
        """Like read() but over a file subset — generated columns ARE
        computed so mutation predicates may reference them; _write_data
        projects them away again (they are never stored)."""
        paths = [os.path.join(self.path, f) for f in files]
        raw = self.spark.read.schema(self._physical_schema(m)).parquet(*paths)
        projected = raw.select(
            *[F.col(ph).alias(lg) for lg, ph in m["mapping"].items()]
        )
        return self._apply_generated(projected, m)

    def _cow_commit(
        self,
        op: str,
        affected: set[str],
        rewrite: DataFrame | None,
        extra_files: list[str] | None = None,
        base: int | None = None,
    ) -> int:
        """Commit = (``base``'s files − affected) + rewrite(affected) +
        extras.  Untouched files move by reference.  The whole-table
        rewrites (checkpoint, cluster_by, index rebuilds) commit here;
        DML goes through _stage_commit.

        ``base`` is the version the caller PLANNED against (read its
        manifest, scanned its files) and the commit lands at base+1 —
        never on whatever is latest at commit time.  Re-resolving
        latest here would silently merge a plan computed on one state
        into another (e.g. a delete whose survivors re-add rows a
        racing checkpoint already folded in, duplicating them with no
        conflict); with the base pinned, any interleaved writer makes
        base+1 collide and the O_EXCL link raises CommitConflictError
        for the caller to retry on fresh state — the reference's
        optimistic write-write conflict (transaction_manager.cpp)."""
        v = self.latest_version() if base is None else base
        m = self._manifest(v)
        keep = [f for f in m["files"] if f not in affected]
        new_files = list(extra_files or [])
        if rewrite is not None:
            new_files += self._write_data(rewrite, m["mapping"])
        self._commit(
            v + 1,
            op,
            keep + new_files,
            schema=self._logical_schema(m),
            mapping=m["mapping"],
            used_physical=m["used_physical"],
            constraints=m.get("constraints", []),
            generated=m.get("generated", {}),
        )
        return v + 1

    def _stage_commit(
        self, op: str, stage: Callable[[_StagedTable], None]
    ) -> int:
        """One statement as a one-statement transaction: ``stage`` it on
        a _StagedTable pinned at the latest version, then publish
        base+1.  A writer that committed in between makes base+1
        collide: CommitConflictError, nothing published."""
        st = _StagedTable(self)
        stage(st)
        self._link_manifest(st.prepare(op))
        return st.base + 1

    def insert(self, rows: DataFrame) -> int:
        """INSERT INTO: append-only — zero rewrites, one manifest.
        ``rows`` uses logical column names.  Constraints are enforced
        on the incoming batch (PRIMARY KEY also against the table)."""
        return self._stage_commit("insert", lambda st: st.insert(rows))

    def delete_where(self, cond: Column) -> int:
        """DELETE WHERE: rewrite only files containing matches, keeping
        their non-matching rows (reference physical_delete.cpp row-id
        deletes; file granularity here)."""
        return self._stage_commit("delete", lambda st: st.delete_where(cond))

    def update_where(
        self, cond: Column, assignments: Mapping[str, Column]
    ) -> int:
        """UPDATE SET ... WHERE: rewrite only affected files with the
        conditional projection (physical_update.cpp analog).  Assigning
        a generated or unknown column is a Binder error."""
        return self._stage_commit(
            "update", lambda st: st.update_where(cond, assignments)
        )

    def merge(self, updates: DataFrame, key_col: str | list[str]) -> int:
        """MERGE / upsert on one key column or a list of them: rows in
        ``updates`` replace same-key rows and append otherwise
        (physical_insert.cpp ON CONFLICT DO UPDATE).  Only files
        containing a matched key are rewritten.  Constraints validate
        the incoming batch; same-key collisions with the table are the
        point of MERGE, so PRIMARY KEY checks only within the batch."""
        key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
        return self._stage_commit(
            "merge", lambda st: st.merge(updates, key_cols)
        )

    def delete_keys(self, keys: DataFrame, key_col: str) -> int:
        """DELETE WHERE key IN (SELECT ...) — the anti-join form
        (reference physical_delete over a semi-join plan).  The keys
        side never reaches the driver — this is how a dedup pass
        deletes its losers from a 100 TB table."""
        return self._stage_commit(
            "delete", lambda st: st.delete_keys(keys, [key_col])
        )

    def delete_using(self, src_pref: DataFrame, cond: Column) -> int:
        """DELETE ... USING (join-delete): ``src_pref`` is the source
        with ``__src_``-prefixed columns (operators/mutations
        prefix_source) and ``cond`` the join predicate."""
        return self._stage_commit(
            "delete", lambda st: st.delete_using(src_pref, cond)
        )

    def update_from(
        self,
        src_pref: DataFrame,
        cond: Column,
        assignments: Mapping[str, Column],
    ) -> int:
        """UPDATE ... FROM (join-update) over a prefixed source, as in
        delete_using."""
        return self._stage_commit(
            "update",
            lambda st: st.update_from(src_pref, cond, assignments),
        )

    # ------------------------------------------------------ schema DDL

    def _fresh_physical(self, name: str, used: list[str]) -> str:
        ph = name
        n = 1
        while ph in used:
            ph = f"{name}__v{n}"
            n += 1
        return ph

    def add_column(
        self, name: str, data_type, default: Column | None = None
    ) -> int:
        """ALTER TABLE ADD COLUMN.  NULL default: metadata-only (old
        files simply lack the physical column and read as NULL).
        Non-null default: eager backfill rewrite, matching the
        reference's materialized ALTER ADD COLUMN DEFAULT — a read-time
        COALESCE would repaint explicit NULLs inserted later."""
        if isinstance(data_type, str):
            data_type = DataType.fromDDL(data_type)
        v = self.latest_version()
        m = self._manifest(v)
        schema = self._logical_schema(m)
        if name in [f.name for f in schema.fields] or name in m.get(
            "generated", {}
        ):
            raise ValueError(f"column {name} already exists")
        ph = self._fresh_physical(name, m["used_physical"])
        new_schema = StructType(
            [*schema.fields, StructField(name, data_type, True)]
        )
        mapping = {**m["mapping"], name: ph}
        used = sorted([*m["used_physical"], ph])
        cons = m.get("constraints", [])
        if default is None:
            self._commit(
                v + 1, "add_column", m["files"], new_schema, mapping, used,
                cons, m.get("generated", {}),
            )
            return v + 1
        backfilled = self.read().withColumn(
            name, default.cast(data_type)
        )
        files = self._write_data(backfilled, mapping)
        self._commit(
            v + 1, "add_column", files, new_schema, mapping, used, cons,
            m.get("generated", {}),
        )
        return v + 1

    @staticmethod
    def _constraint_references(c: dict, column: str) -> bool:
        if c["type"] == "not_null":
            return c["column"] == column
        if c["type"] == "primary_key":
            return column in c["columns"]
        # CHECK exprs are SQL strings; a word-boundary match is the
        # conservative dependency test (may over-match, never under-).
        import re

        return re.search(rf"\b{re.escape(column)}\b", c["expr"]) is not None

    @staticmethod
    def _expr_references(expr: str, column: str) -> bool:
        import re

        return re.search(rf"\b{re.escape(column)}\b", expr) is not None

    def add_generated_column(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD COLUMN ... GENERATED ALWAYS AS (expr)
        VIRTUAL: metadata-only at any table size."""
        v = self.latest_version()
        m = self._manifest(v)
        taken = [f.name for f in self._logical_schema(m).fields] + list(
            m.get("generated", {})
        )
        if name in taken:
            raise ValueError(f"column {name} already exists")
        self._commit(
            v + 1, "add_generated_column", m["files"],
            self._logical_schema(m), m["mapping"], m["used_physical"],
            m.get("constraints", []), {**m.get("generated", {}), name: expr},
        )
        return v + 1

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN: metadata-only — the physical column
        stays in the files (and in the ``used_physical`` ledger, so a
        later ADD COLUMN of the same name cannot resurrect it).
        Dropping a GENERATED column just removes its expression.
        Refused while a constraint or generated column references the
        column (reference dependency errors in test/sql/alter/,
        test/sql/generated_columns/)."""
        v = self.latest_version()
        m = self._manifest(v)
        schema = self._logical_schema(m)
        gen = m.get("generated", {})
        cons = m.get("constraints", [])
        if name in gen:
            remaining = {k: e for k, e in gen.items() if k != name}
            dependents = [
                k for k, e in remaining.items()
                if self._expr_references(e, name)
            ]
            if dependents:
                raise ValueError(
                    f"cannot drop {name}: generated columns {dependents} "
                    "reference it"
                )
            self._commit(
                v + 1, "drop_column", m["files"], schema, m["mapping"],
                m["used_physical"], cons, remaining,
            )
            return v + 1
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {name}")
        blocking = [c for c in cons if self._constraint_references(c, name)]
        if blocking:
            raise ValueError(
                f"cannot drop {name}: referenced by constraints {blocking}"
            )
        gen_refs = [
            k for k, e in gen.items() if self._expr_references(e, name)
        ]
        if gen_refs:
            raise ValueError(
                f"cannot drop {name}: generated columns {gen_refs} "
                "reference it"
            )
        new_schema = StructType(
            [f for f in schema.fields if f.name != name]
        )
        mapping = {k: p for k, p in m["mapping"].items() if k != name}
        self._commit(
            v + 1, "drop_column", m["files"], new_schema, mapping,
            m["used_physical"], cons, gen,
        )
        return v + 1

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN: metadata-only — only the
        logical→physical mapping changes; zero bytes rewritten."""
        v = self.latest_version()
        m = self._manifest(v)
        schema = self._logical_schema(m)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names or new in m.get("generated", {}):
            raise ValueError(f"column {new} already exists")
        new_schema = StructType(
            [
                StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        mapping = {
            (new if lg == old else lg): ph for lg, ph in m["mapping"].items()
        }
        # NOT NULL / PRIMARY KEY constraints follow the rename; a CHECK
        # expression referencing the column cannot be rewritten safely
        # and blocks the rename (reference dependency error).
        cons = []
        for c in m.get("constraints", []):
            if c["type"] == "not_null" and c["column"] == old:
                c = {**c, "column": new}
            elif c["type"] == "primary_key" and old in c["columns"]:
                c = {
                    **c,
                    "columns": [new if k == old else k for k in c["columns"]],
                }
            elif c["type"] == "check" and self._constraint_references(c, old):
                raise ValueError(
                    f"cannot rename {old}: referenced by CHECK ({c['expr']})"
                )
            cons.append(c)
        gen = m.get("generated", {})
        gen_refs = [
            k for k, e in gen.items() if self._expr_references(e, old)
        ]
        if gen_refs:
            raise ValueError(
                f"cannot rename {old}: generated columns {gen_refs} "
                "reference it"
            )
        self._commit(
            v + 1, "rename_column", m["files"], new_schema, mapping,
            m["used_physical"], cons, gen,
        )
        return v + 1

    # ------------------------------------------------------ maintenance

    def checkpoint(self, n_files: int = 4) -> int:
        """Fold the live file set into n_files compacted files (the
        reference CHECKPOINT folds the WAL into the block file)."""
        base = self.latest_version()
        m = self._manifest(base)
        compacted = self.read(base).repartition(n_files)
        return self._cow_commit(
            "checkpoint", set(m["files"]), compacted, base=base
        )

    def cluster_by(self, cols: list[str], n_files: int = 8) -> int:
        """OPTIMIZE ... CLUSTER BY: rewrite the live set range-
        partitioned and sorted on ``cols`` — the compaction that makes
        the manifest zone maps SELECTIVE (after clustering, each file
        owns a disjoint key range, so ``read(filters=...)`` prunes to
        the few files whose range matches; before it, every file spans
        the whole domain and nothing prunes).  The lakehouse OPTIMIZE /
        Z-ORDER analog of the reference's clustered row-group layout;
        one shuffle, same content, new version."""
        base = self.latest_version()
        m = self._manifest(base)
        clustered = (
            self.read(base)
            .repartitionByRange(n_files, *cols)
            .sortWithinPartitions(*cols)
        )
        return self._cow_commit(
            "cluster", set(m["files"]), clustered, base=base
        )

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF v (reference
        test/sql/storage_version rollback semantics, expressed in the
        lakehouse RESTORE shape): commit a NEW version whose file set,
        schema, column mapping, constraints, and generated columns are
        exactly those of ``version``, carrying every file by reference
        — zero bytes rewritten at any table size.  History is
        preserved (restore is itself a commit, not a log rewrite), so
        a mistaken restore can itself be restored away.  The
        used-physical ledger keeps the superset of both manifests so a
        column re-added after the restore still gets a fresh physical
        identity and cannot resurrect pre-restore values.  Raises
        FileNotFoundError if ``vacuum()`` already dropped one of the
        target version's data files; the existence check is re-run
        AFTER the commit because a concurrent ``vacuum()`` is not
        serialized through the commit log (it deletes files the target
        manifest references but no retained one did) — on post-commit
        loss this raises instead of silently publishing a manifest that
        points at deleted files.  Writers coordinate through
        CommitConflictError; vacuum is the one maintenance op the
        caller must not run concurrently with restore."""
        m = self._manifest(version)
        latest = self.latest_version()
        cur = self._manifest(latest)
        missing = [
            f
            for f in m["files"]
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to version {version}: {len(missing)} "
                f"data file(s) already vacuumed, e.g. {missing[0]}"
            )
        used = list(
            dict.fromkeys([*cur["used_physical"], *m["used_physical"]])
        )
        self._commit(
            latest + 1,
            f"restore({version})",
            m["files"],
            self._logical_schema(m),
            m["mapping"],
            used,
            constraints=m.get("constraints", []),
            generated=m.get("generated", {}),
        )
        lost = [
            f
            for f in m["files"]
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if lost:
            raise RuntimeError(
                f"restore({version}) committed version {latest + 1} but a "
                f"concurrent vacuum() deleted {len(lost)} of its data "
                f"file(s) (e.g. {lost[0]}); restore the previous version "
                "and re-run with vacuum quiesced"
            )
        return latest + 1

    def _delete_unreferenced(self, live: set[str]) -> list[str]:
        """Delete every data file not in ``live`` (paths relative to the
        table root), then the partition directories left empty; returns
        the deleted files' relative paths."""
        removed = []
        for p in glob.glob(os.path.join(self.data_dir, "*", "*.parquet")):
            rel = os.path.relpath(p, self.path)
            if rel not in live:
                os.remove(p)
                removed.append(rel)
        for d in glob.glob(os.path.join(self.data_dir, "*")):
            if os.path.isdir(d) and not os.listdir(d):
                shutil.rmtree(d)
        return removed

    def vacuum_orphans(self) -> list[str]:
        """Remove data files referenced by NO manifest at any version —
        debris from crashed/conflicted writes.  History and time travel
        are untouched (this is what the SQL ``VACUUM`` statement runs:
        DuckDB's VACUUM never destroys history; explicit retention
        truncation stays on the Python ``vacuum(retain_last=...)``
        API)."""
        latest = self.latest_version()
        live: set[str] = set()
        for v in range(latest + 1):
            try:
                live.update(self._manifest(v)["files"])
            except FileNotFoundError:
                continue  # already truncated by an explicit vacuum()
        return self._delete_unreferenced(live)

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """Drop data files referenced by NO retained manifest (and the
        pre-retention manifests themselves).  Time travel before the
        horizon is gone afterwards — same contract as the reference's
        checkpoint truncating the WAL."""
        latest = self.latest_version()
        horizon = max(0, latest - retain_last + 1)
        live: set[str] = set()
        for v in range(horizon, latest + 1):
            live.update(self._manifest(v)["files"])
        removed = self._delete_unreferenced(live)
        for v in range(horizon):
            mp = os.path.join(self.log_dir, f"{v:08d}.json")
            if os.path.exists(mp):
                os.remove(mp)
        return removed


class _StagedTable:
    """The store's one DML algorithm: a table's staged state, pinned at
    ``base`` = the latest version when created.  ``carry`` holds the
    base files not yet rewritten (moved by reference at commit) and
    ``pending`` the lazy DataFrames of rewritten or inserted rows
    (written once, at commit).  Each VersionedTable verb stages one
    statement on a fresh instance; a transaction (storage/transaction.py)
    keeps one per table it touches.

    Every statement validates when staged, like the reference: a
    ConstraintViolation here aborts the enclosing transaction."""

    def __init__(self, vt: VersionedTable):
        self.vt = vt
        self.base = vt.latest_version()
        self.m = vt._manifest(self.base)
        self.carry: set[str] = set(self.m["files"])
        self.pending: list[DataFrame] = []

    # -- reads -----------------------------------------------------------

    def _stored_cols(self) -> list[str]:
        return list(self.m["mapping"])

    def _with_generated(self, df: DataFrame) -> DataFrame:
        return VersionedTable._apply_generated(
            df.select(*self._stored_cols()), self.m
        )

    def read(self) -> DataFrame:
        """The staged view of the table: carried base files plus every
        staged frame (read-your-own-writes)."""
        frames: list[DataFrame] = []
        if self.carry:
            frames.append(self.vt._read_files_logical(self.m, self.carry))
        frames += [self._with_generated(p) for p in self.pending]
        if not frames:
            schema = VersionedTable._logical_schema(self.m)
            empty = self.vt.spark.createDataFrame([], schema)
            return VersionedTable._apply_generated(empty, self.m)
        return reduce(DataFrame.unionByName, frames)

    def _affected_files(
        self, match: Callable[[DataFrame], DataFrame]
    ) -> set[str]:
        """Files among ``carry`` holding a row that ``match`` (a filter
        or a semi-join of the carried rows) keeps.  A distributed
        distinct-file collect: file NAMES reach the driver, never rows
        or keys."""
        if not self.carry:
            return set()
        cur = self.vt._read_files_logical(self.m, self.carry).withColumn(
            "_vt_file", F.input_file_name()
        )
        hits = match(cur).select("_vt_file").distinct().collect()
        return {
            os.path.relpath(_strip_uri(r["_vt_file"]), self.vt.path)
            for r in hits
        }

    def _rewrite(
        self,
        match: Callable[[DataFrame], DataFrame],
        rewrite: Callable[[DataFrame], DataFrame],
    ) -> None:
        """Apply ``rewrite`` to every pending frame and to the carried
        files ``match`` hits, which leave ``carry``; untouched files stay
        carried by reference.  Generated columns are computed on the
        input and dropped from the output (recomputed at read)."""
        affected = self._affected_files(match)
        frames = [self._with_generated(p) for p in self.pending]
        if affected:
            frames.append(self.vt._read_files_logical(self.m, affected))
            self.carry -= affected
        self.pending = [
            rewrite(f).select(*self._stored_cols()) for f in frames
        ]

    # -- mutations -------------------------------------------------------

    def insert(self, rows: DataFrame) -> None:
        aligned = rows.select(*self._stored_cols())
        cons = self.m.get("constraints", [])
        # Only new primary keys are checked against the staged table;
        # skip building its relation for every other INSERT.
        has_pk = any(c["type"] == "primary_key" for c in cons)
        self.vt._validate(
            aligned, cons, current=self.read() if has_pk else None
        )
        self.pending.append(aligned)

    def delete_where(self, cond: Column) -> None:
        keep = ~cond | cond.isNull()
        self._rewrite(lambda df: df.filter(cond), lambda df: df.filter(keep))

    def delete_keys(self, keys: DataFrame, key_cols: list[str]) -> None:
        """Anti-join delete of the key set: affected files come from a
        semi-join on the keys."""
        keys = keys.select(*key_cols).distinct()
        self._rewrite(
            lambda df: df.join(keys, key_cols, "semi"),
            lambda df: df.join(keys, key_cols, "left_anti"),
        )

    def delete_using(self, src_pref: DataFrame, cond: Column) -> None:
        """DELETE ... USING (join-delete): anti-join survivors."""
        from data_chunk_compaction_in_duckdb_spark.operators.mutations import (
            delete_using,
        )

        self._rewrite(
            lambda df: df.join(src_pref, cond, "semi"),
            lambda df: delete_using(df, src_pref, cond),
        )

    def update_where(
        self, cond: Column, assignments: Mapping[str, Column]
    ) -> None:
        from data_chunk_compaction_in_duckdb_spark.operators.mutations import (
            apply_assignments,
        )

        self._check_assignable(assignments)
        self._rewrite(
            lambda df: df.filter(cond),
            lambda df: apply_assignments(df, cond, assignments),
        )
        self._validate_update(assignments)

    def update_from(
        self,
        src_pref: DataFrame,
        cond: Column,
        assignments: Mapping[str, Column],
    ) -> None:
        """UPDATE ... FROM (join-update): matched rows take the source
        expressions; DuckDB's arbitrary pick under multi-match."""
        from data_chunk_compaction_in_duckdb_spark.operators.mutations import (
            update_from,
        )

        self._check_assignable(assignments)
        self._rewrite(
            lambda df: df.join(src_pref, cond, "semi"),
            lambda df: update_from(df, src_pref, cond, assignments),
        )
        self._validate_update(assignments)

    def _check_assignable(self, assignments: Mapping[str, Column]) -> None:
        bad = [c for c in assignments if c not in self.m["mapping"]]
        if bad:
            raise ValueError(
                f"Binder Error: cannot UPDATE column(s) {bad} — not a "
                "stored column (generated columns are computed at read)"
            )

    def _validate_update(self, assignments: Mapping[str, Column]) -> None:
        cons = self.m.get("constraints", [])
        row_checks = [c for c in cons if c["type"] in ("not_null", "check")]
        if row_checks and self.pending:
            self.vt._validate(
                reduce(DataFrame.unionByName, self.pending),
                row_checks,
                current=None,
            )
        pk_touched = [
            c
            for c in cons
            if c["type"] == "primary_key"
            and set(c["columns"]) & set(assignments)
        ]
        if pk_touched:
            # key-touching UPDATE: the staged POST-state must stay unique
            self.vt._validate(self.read(), pk_touched, current=None)

    def merge(self, rows: DataFrame, key_cols: list[str]) -> None:
        """INSERT OR REPLACE (upsert): same-key rows across carry and
        pending are replaced by the incoming batch.  Replacing table
        keys is the point of MERGE, so constraints (PRIMARY KEY
        uniqueness too) validate the batch alone."""
        aligned = rows.select(*self._stored_cols())
        self.vt._validate(
            aligned, self.m.get("constraints", []), current=None
        )
        self.delete_keys(aligned, key_cols)
        self.pending.append(aligned)

    # -- commit ----------------------------------------------------------

    def is_noop(self) -> bool:
        """True when the staged state is byte-identical to the base
        manifest — the table was only read (or touched by DML that
        matched no rows).  MVCC read-only transaction participants must
        NOT publish a version or conflict with concurrent writers
        (reference: read-only transactions never enter the commit lock,
        transaction_manager.cpp)."""
        return not self.pending and self.carry == set(self.m["files"])

    def prepare(self, op: str = "txn") -> dict:
        """Write this table's data files and build (but NOT publish)
        the base+1 manifest: carried files by reference, all pending
        frames folded into a single write pass.  A crash after prepare
        leaves only orphan data files (vacuum-cleaned); nothing is
        visible until the manifest links."""
        new_files: list[str] = []
        if self.pending:
            rows = reduce(
                DataFrame.unionByName,
                [p.select(*self._stored_cols()) for p in self.pending],
            )
            new_files = self.vt._write_data(rows, self.m["mapping"])
        return self.vt._build_manifest(
            self.base + 1,
            op,
            sorted(self.carry) + new_files,
            schema=VersionedTable._logical_schema(self.m),
            mapping=self.m["mapping"],
            used_physical=self.m["used_physical"],
            constraints=self.m.get("constraints", []),
            generated=self.m.get("generated", {}),
        )

    def commit(self, op: str = "txn") -> int:
        """One manifest commit at base+1 (prepare + atomic link).  A
        no-op staged table (read-only within the transaction) commits
        to its base version without publishing anything."""
        if self.is_noop():
            return self.base
        self.vt._link_manifest(self.prepare(op))
        return self.base + 1

def quarantine(df: DataFrame, constraints: list[dict]) -> DataFrame:
    """Constraint quarantine for pipeline loads: instead of rejecting a
    whole commit (``ConstraintViolation``), tag each row with the FIRST
    constraint it violates (``_reject_reason``, NULL = accepted), so a
    load can route rejects to a dead-letter table and commit the rest —
    the ON CONFLICT/constraint-error split of an INSERT in the
    reference, expressed as one distributed projection.

    PRIMARY KEY is checked within ``df`` (a count window over the key —
    one shuffle on the key, no driver state); NOT NULL and CHECK are
    per-row expressions.  Constraint order is priority order."""
    from pyspark.sql import Window

    reason = F.lit(None).cast("string")
    for c in reversed(constraints):
        if c["type"] == "not_null":
            hit = F.col(c["column"]).isNull()
            tag = f"not_null:{c['column']}"
        elif c["type"] == "check":
            hit = ~F.expr(c["expr"]) & F.expr(c["expr"]).isNotNull()
            tag = f"check:{c['expr']}"
        elif c["type"] == "primary_key":
            cols = c["columns"]
            n = F.count("*").over(Window.partitionBy(*cols))
            null_key = None
            for k in cols:
                cond = F.col(k).isNull()
                null_key = cond if null_key is None else (null_key | cond)
            hit = null_key | (n > 1)
            tag = f"primary_key:{','.join(cols)}"
        else:
            raise ValueError(f"unknown constraint type: {c['type']}")
        reason = F.when(hit, F.lit(tag)).otherwise(reason)
    return df.withColumn("_reject_reason", reason)


# ------------------------------------------------------- file skipping


def _file_stats(path: str) -> tuple[int, dict[str, list]]:
    """The file's row count and per-file zone map from the parquet
    footer: physical column → [min, max] across row groups (None when
    the writer recorded no stats, e.g. for binary/nested columns).
    Footer-only — never reads data pages."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        grp = md.row_group(rg)
        for ci in range(grp.num_columns):
            col = grp.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            name = col.path_in_schema
            if name in out:
                out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
            else:
                out[name] = [lo, hi]
    return md.num_rows, {
        k: v
        for k, v in out.items()
        if isinstance(v[0], (int, float, str, bool))
    }


def prune_by_stats(
    stats: dict[str, dict[str, list]],
    filters: list[tuple[str, str, object]],
) -> list[str]:
    """Zone-map pruning: keep the files whose [min, max] range MAY
    satisfy every conjunct ``(column, op, value)`` with op in
    {=, <, <=, >, >=}.  Conservative: a file with no recorded range for
    the column always survives.  This is the reference's row-group
    zone-map skip (src/storage/statistics/) lifted to manifest-file
    granularity — the driver prunes on metadata, executors never open
    skipped files."""
    keep = []
    for fname, cols in stats.items():
        ok = True
        for col, op, val in filters:
            rng = cols.get(col)
            if rng is None:
                continue
            lo, hi = rng
            if (
                (op == "=" and not (lo <= val <= hi))
                or (op == "<" and not (lo < val))
                or (op == "<=" and not (lo <= val))
                or (op == ">" and not (hi > val))
                or (op == ">=" and not (hi >= val))
            ):
                ok = False
                break
        if ok:
            keep.append(fname)
    return keep

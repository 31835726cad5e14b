"""Multi-statement transactions over the versioned store.

Reference parity (src/transaction/transaction_context.cpp,
transaction_manager.cpp, test/sql/transactions/):

  - BEGIN pins a snapshot: the first touch of each table records its
    latest version; every staged read/mutation runs against that base —
    a racing writer never leaks into the transaction (MVCC snapshot).
  - Statements stage; COMMIT publishes each table's net effect as ONE
    manifest commit at base+1.  A writer that slipped in between makes
    base+1 collide and the O_EXCL manifest link raises
    CommitConflictError — DuckDB's optimistic write-write conflict.
  - ROLLBACK discards the staging; nothing was ever visible to other
    readers (no data files are referenced by any manifest until
    COMMIT; orphans are vacuum-cleaned like any crashed write).
  - A failed statement (constraint violation) ABORTS the transaction:
    every later statement raises DuckDB's exact error
    ("TransactionContext Error: Current transaction is aborted (please
    ROLLBACK)"), COMMIT of an aborted transaction silently rolls back
    — both probed on DuckDB 1.0.  Binder-stage errors (bad column,
    missing table) do NOT abort, also probed.

One DML path: a transaction keeps one ``versioned._StagedTable`` per
table it touches, and that class is also the whole algorithm of every
autocommit ``VersionedTable`` verb (a one-statement transaction).  So a
statement stages identically inside and outside BEGIN..COMMIT; only
what happens after it differs — an autocommit verb publishes base+1 at
once, a transaction keeps staging until COMMIT.

Scale shape (100 TB): staging is file-granular copy-on-write —
DELETE/UPDATE locate affected files among the not-yet-rewritten base
files (a distributed distinct-file scan, never a row collect), carry
untouched files by reference, and compose rewrites LAZILY on the staged
frames.  COMMIT writes each table's pending rows once (one union, one
write job) and publishes one manifest; a 50-statement transaction costs
one data-write pass, not 50.

Cross-table atomicity: with a root transaction log (storage/txnlog.py,
``Engine.enable_atomic_commit``) COMMIT prepares every table's data
files and manifest first, then publishes ONE O_EXCL root record — the
single commit point of the reference's transaction_manager.cpp — so a
conflict publishes nothing and a root-log reader can never observe a
partial commit.  Without one (single-table transactions, legacy
callers), tables commit in name order with best-effort ``restore()``
compensation on a mid-sequence conflict.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame

from data_chunk_compaction_in_duckdb_spark.storage.versioned import (
    CommitConflictError,
    ConstraintViolation,
    VersionedTable,
    _StagedTable,
)


class TransactionAborted(RuntimeError):
    """DuckDB's exact aborted-transaction error (probed)."""

    def __init__(self) -> None:
        super().__init__(
            "TransactionContext Error: Current transaction is aborted "
            "(please ROLLBACK)"
        )


class Transaction:
    """One BEGIN..COMMIT/ROLLBACK scope over any number of versioned
    tables.  Mutations raise through, marking the transaction aborted
    on constraint violations (the reference's abort-on-failed-statement
    semantics, probed on DuckDB 1.0)."""

    def __init__(self) -> None:
        self._staged: dict[str, _StagedTable] = {}
        self.aborted = False

    def check_active(self) -> None:
        if self.aborted:
            raise TransactionAborted()

    def table(self, name: str, vt: VersionedTable) -> _StagedTable:
        if name not in self._staged:
            self._staged[name] = _StagedTable(vt)
        return self._staged[name]

    def read(self, name: str, vt: VersionedTable) -> DataFrame:
        self.check_active()
        return self.table(name, vt).read()

    def _guard(self, fn, *args, **kwargs):
        self.check_active()
        try:
            return fn(*args, **kwargs)
        except ConstraintViolation:
            self.aborted = True
            raise

    def insert(self, name: str, vt: VersionedTable, rows: DataFrame) -> None:
        self._guard(self.table(name, vt).insert, rows)

    def delete_where(
        self, name: str, vt: VersionedTable, cond: Column
    ) -> None:
        self._guard(self.table(name, vt).delete_where, cond)

    def update_where(
        self,
        name: str,
        vt: VersionedTable,
        cond: Column,
        assignments: Mapping[str, Column],
    ) -> None:
        self._guard(self.table(name, vt).update_where, cond, assignments)

    def merge(
        self,
        name: str,
        vt: VersionedTable,
        rows: DataFrame,
        key_cols: list[str],
    ) -> None:
        self._guard(self.table(name, vt).merge, rows, key_cols)

    def delete_using(
        self, name: str, vt: VersionedTable, src_pref: DataFrame, cond: Column
    ) -> None:
        self._guard(self.table(name, vt).delete_using, src_pref, cond)

    def update_from(
        self,
        name: str,
        vt: VersionedTable,
        src_pref: DataFrame,
        cond: Column,
        assignments: Mapping[str, Column],
    ) -> None:
        self._guard(
            self.table(name, vt).update_from, src_pref, cond, assignments
        )

    def commit(self, root_log=None) -> dict[str, int]:
        """Publish every staged table.

        With ``root_log`` (a storage.txnlog.RootLog): EVERY table's
        data files and manifest are prepared first, then ONE O_EXCL
        root-record link commits the whole transaction atomically —
        no reader resolving through the root log ever observes a
        partial commit, and a conflict publishes NOTHING (reference
        transaction_manager.cpp's single commit point).

        Without one (single-table transactions, legacy callers):
        per-table commits in name order; on a mid-sequence
        CommitConflictError, already-committed tables are compensated
        with restore() commits back to their pre-transaction versions,
        then the conflict re-raises for the caller to retry."""
        if self.aborted:
            return {}
        committed: dict[str, int] = {}
        if root_log is not None:
            updates: dict[str, tuple] = {}
            for name in sorted(self._staged):
                st = self._staged[name]
                if st.is_noop():
                    committed[name] = st.base
                    continue
                updates[name] = (st.vt, st.base, st.prepare())
            if updates:
                root_log.append(updates)  # THE commit point
                for name, (vt, _b, m) in updates.items():
                    try:
                        vt._link_manifest(m)
                    except CommitConflictError:
                        # a concurrent recover() already replayed this
                        # root record's manifest — identical content,
                        # the commit stands
                        pass
                    committed[name] = m["version"]
            return committed
        try:
            for name in sorted(self._staged):
                committed[name] = self._staged[name].commit()
        except CommitConflictError:
            for name, ver in committed.items():
                st = self._staged[name]
                if ver == st.base:  # read-only participant: nothing published
                    continue
                try:
                    st.vt.restore(st.base)
                except Exception:  # noqa: BLE001 — compensation is best-effort
                    pass
            raise
        return committed

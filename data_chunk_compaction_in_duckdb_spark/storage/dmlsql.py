"""DML + transaction-statement grammar shared by ``Engine.sql`` and the
sqllogic runner.

Reference surface: DuckDB's transaction statements (BEGIN [TRANSACTION]
/ START TRANSACTION / COMMIT / ROLLBACK / ABORT — reference
src/transaction/transaction_context.cpp, test/sql/transactions/) and
the table DML statements they wrap (INSERT INTO / DELETE FROM / UPDATE
... SET — physical_insert.cpp, physical_delete.cpp,
physical_update.cpp).  Spark SQL parses DML only for v2 catalogs, so
both SQL entry points intercept these statements BEFORE spark.sql and
route them to the versioned store / view-rebind machinery — the same
.test text DuckDB executes natively in the dual-engine grids.

Parsers only; ``Engine._mutate`` runs each parsed statement as one
verb on the open storage/transaction.py ``Transaction`` or, in
autocommit, on the ``VersionedTable`` — both stage it on
storage/versioned.py ``_StagedTable``.
"""

from __future__ import annotations

import re

from data_chunk_compaction_in_duckdb_spark.dialect import (
    Lexed,
    sub_outside_literals,
)

_BEGIN_RE = re.compile(
    r"^\s*(?:BEGIN(?:\s+TRANSACTION)?|START\s+TRANSACTION)\s*;?\s*$", re.I
)
_COMMIT_RE = re.compile(r"^\s*COMMIT\s*;?\s*$", re.I)
_ROLLBACK_RE = re.compile(r"^\s*(?:ROLLBACK|ABORT)\s*;?\s*$", re.I)

# the head of an INSERT; the column list and the VALUES/SELECT body
# follow it (matched over the lexed text by parse_insert)
INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?:OR\s+(REPLACE|IGNORE)\s+)?INTO\s+(\w+)\s*", re.I
)
_BODY_RE = re.compile(r"\s*((?:VALUES|SELECT)\b)", re.I)
_ON_CONFLICT_NOTHING_RE = re.compile(r"\s+ON\s+CONFLICT\s+DO\s+NOTHING$", re.I)
TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", re.I
)
# DELETE and UPDATE match the statement with its terminator stripped
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)"
    r"(?:\s+USING\s+(\w+)(?:\s+(?:AS\s+)?(\w+))?)?"
    r"(?:\s+WHERE\s+(.*))?$",
    re.I | re.S,
)
_UPDATE_RE = re.compile(r"^\s*UPDATE\s+(\w+)\s+SET\s+(.*)$", re.I | re.S)
_EQUALS = re.compile("=")
_WHERE_WORD = re.compile(r"\bWHERE\b", re.I)
_FROM_WORD = re.compile(r"\bFROM\b", re.I)
_FROM_CLAUSE_RE = re.compile(
    r"^\s*(\w+)(?:\s+(?:AS\s+)?(\w+))?\s*$", re.I
)


def parse_txn_verb(sql: str) -> str | None:
    """'begin' | 'commit' | 'rollback' for a transaction statement
    (ABORT is DuckDB's rollback alias — probed: same error text), else
    None."""
    if _BEGIN_RE.match(sql):
        return "begin"
    if _COMMIT_RE.match(sql):
        return "commit"
    if _ROLLBACK_RE.match(sql):
        return "rollback"
    return None


def _strip_terminator(sql: str) -> str:
    """``sql`` without its trailing whitespace, comments and one ``;``
    (a comment before the ``;`` goes too)."""
    lx = Lexed(sql)
    end, semicolon = len(sql), False
    while end > 0:
        span = lx.span_at(end - 1)
        if sql[end - 1].isspace():
            end -= 1
        elif span is not None and sql.startswith(("--", "/*"), span[0]):
            end = span[0]
        elif sql[end - 1] == ";" and span is None and not semicolon:
            end, semicolon = end - 1, True
        else:
            break
    return sql[:end]


def parse_insert(
    sql: str,
) -> tuple[str, list[str] | None, str, str | None] | None:
    """``(table, column_list | None, body, mode)`` where body is the
    VALUES/SELECT tail; the optional column list is the
    ``INSERT INTO t (a, b) ...`` form (unlisted columns take NULL,
    like DuckDB's defaultless columns).  ``mode`` is ``'replace'`` /
    ``'ignore'`` for the OR REPLACE / OR IGNORE prefixes; a trailing
    ``ON CONFLICT DO NOTHING`` clause (DuckDB's equivalent spelling,
    probed) also maps to ``'ignore'``."""
    sql = _strip_terminator(sql)
    m = INSERT_RE.match(sql)
    if not m:
        return None
    mode = m.group(1).lower() if m.group(1) else None
    lx, start, cols = Lexed(sql), m.end(), None
    if sql.startswith("(", start):
        try:
            close = lx.partner(start)
        except ValueError:
            return None
        inner = Lexed(sql[start + 1 : close])
        cols = [c.strip().strip('"') for c in inner.split_toplevel() if c.strip()]
        start = close + 1
    b = _BODY_RE.match(lx.masked, start)
    if not b:
        return None
    body = sql[b.start(1) :]
    oc = _ON_CONFLICT_NOTHING_RE.search(body)
    if oc:
        body = body[: oc.start()]
        mode = mode or "ignore"
    return m.group(2), cols, body, mode


def parse_truncate(sql: str) -> str | None:
    """Table name of a ``TRUNCATE [TABLE] t`` statement, or None."""
    m = TRUNCATE_RE.match(sql)
    return m.group(1) if m else None


def parse_delete(
    sql: str,
) -> tuple[str, str | None, tuple[str, str] | None] | None:
    """``(table, where_sql | None, using | None)`` where ``using`` is
    ``(source_table, alias)`` for DuckDB's ``DELETE FROM t USING s
    [AS a] WHERE ...`` join-delete form (alias defaults to the source
    name)."""
    m = _DELETE_RE.match(_strip_terminator(sql))
    if not m:
        return None
    where = m.group(4)
    using = None
    if m.group(2):
        using = (m.group(2), m.group(3) or m.group(2))
    return m.group(1), (where.strip() or None) if where else None, using


def parse_update(
    sql: str,
) -> tuple[str, dict[str, str], str | None, tuple[str, str] | None] | None:
    """``(table, {column: expr_sql}, where_sql | None, from_ | None)``
    or None; ``from_`` is ``(source_table, alias)`` for DuckDB's
    ``UPDATE t SET ... FROM s [AS a] WHERE ...`` join-update form.  The
    SET list splits on depth-0 commas outside literals, and each item
    at its first ``=`` outside literals, so expressions may contain
    function calls and quoted strings and a quoted column name may hold
    ``=``."""
    m = _UPDATE_RE.match(_strip_terminator(sql))
    if not m:
        return None
    table, tail = m.group(1), m.group(2)
    wm = Lexed(tail).find_toplevel(_WHERE_WORD)
    where = None
    if wm is not None:
        where = tail[wm.end() :].strip() or None
        tail = tail[: wm.start()]
    from_ = None
    fm = Lexed(tail).find_toplevel(_FROM_WORD)
    if fm is not None:
        src = tail[fm.end() :]
        tail = tail[: fm.start()]
        fm = _FROM_CLAUSE_RE.match(src)
        if not fm:
            raise ValueError(
                "Parser Error: UPDATE ... FROM supports a single "
                f"[aliased] table source, got: {src.strip()!r}"
            )
        from_ = (fm.group(1), fm.group(2) or fm.group(1))
    assignments: dict[str, str] = {}
    for part in Lexed(tail).split_toplevel():
        eq = Lexed(part).find_toplevel(_EQUALS)
        if eq is None:
            raise ValueError(f"Parser Error: malformed SET clause: {part!r}")
        col, expr = part[: eq.start()], part[eq.end() :]
        assignments[col.strip().strip('"')] = expr.strip()
    return table, assignments, where, from_


def rewrite_qualified(text: str, table: str, alias: str) -> str:
    """Rewrite qualified column refs for the join-DML frames: the
    SOURCE alias's columns become their ``__src_``-prefixed names (the
    source frame is prefix-renamed before the join so no alias scoping
    is needed), and the TARGET table qualifier drops (target columns
    are unqualified in the joined frame).  Rewrites skip string
    literals/comments."""
    text = sub_outside_literals(
        re.compile(rf"\b{re.escape(alias)}\.(\w+)"),
        lambda m: f"__src_{m.group(1)}",
        text,
    )
    return sub_outside_literals(
        re.compile(rf"\b{re.escape(table)}\.(\w+)"),
        lambda m: m.group(1),
        text,
    )

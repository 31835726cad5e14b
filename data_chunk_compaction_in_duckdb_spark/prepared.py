"""PREPARE / EXECUTE / DEALLOCATE statement grammar.

Reference surface: DuckDB's SQL-level prepared statements
(src/main/prepared_statement.cpp, test/sql/prepared/) — three
parameter styles, all probed on DuckDB 1.0:

  PREPARE q AS SELECT $1 + $2;     EXECUTE q(3, 4);
  PREPARE q AS SELECT ? + ?;       EXECUTE q(1, 2);
  PREPARE q AS SELECT $a + $b;     EXECUTE q(a := 1, b := 2);

Probed semantics mirrored exactly:
  - re-PREPARE of an existing name silently replaces it;
  - DEALLOCATE (incl. the ``DEALLOCATE PREPARE`` form) of an unknown
    name succeeds silently;
  - EXECUTE of an unknown name →
    ``Binder Error: Prepared statement "q" does not exist``;
  - missing values → ``Invalid Input Error: Values were not provided
    for the following prepared statement parameters: <ids>``
    (numbered ids for $n/?, names for $name — positional args against
    a named statement report ALL names missing);
  - excess values → ``Invalid Input Error: Parameter argument/count
    mismatch, identifiers of the excess parameters: <positions>``;
  - ``EXECUTE q()`` → ``Parser Error: syntax error at or near ")"``;
  - catalog errors surface at PREPARE time (DuckDB binds the statement
    when preparing, not when executing).

Spark-first execution: markers are rewritten to Spark's ``:name``
named-parameter form OUTSIDE string literals and the arguments bind
through ``spark.sql(query, args=...)`` as literals, never by string
interpolation.  ``fold_args`` makes their values: a plain literal
argument (an integer in BIGINT range, a simple quoted string, NULL,
TRUE, FALSE) is folded in Python without a Spark job, and so are the
NULLs of PREPARE's validation; any other argument expression is folded
by one FROM-less SELECT, which is one Spark job.
A body that is not a query (prepared DML on versioned tables, ...)
re-enters ``Engine.sql`` with the markers substituted as parenthesized
SQL expressions, the same constant expressions DuckDB binds.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from data_chunk_compaction_in_duckdb_spark import dialect

PREPARE_RE = re.compile(r"^\s*PREPARE\s+(\w+)\s+AS\s+(.*?);?\s*$", re.I | re.S)
EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*$", re.I | re.S
)
DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*;?\s*$", re.I
)

# markers, scanned outside string literals: $1 / $name / ?
_NUMBERED_RE = re.compile(r"\$(\d+)")
_NAMED_RE = re.compile(r"\$([A-Za-z_]\w*)")
_QMARK_RE = re.compile(r"\?")


@dataclass
class PreparedStatement:
    name: str
    body: str
    kind: str          # "numbered" | "named" | "none"
    n_params: int      # numbered/qmark: parameter count
    names: list[str]   # named: parameter names in first-appearance order
    bound: str         # body with markers rewritten to :pN / :name


def parse_prepare(sql: str) -> tuple[str, str] | None:
    m = PREPARE_RE.match(sql)
    if not m:
        return None
    return m.group(1), m.group(2).strip()


def parse_deallocate(sql: str) -> str | None:
    m = DEALLOCATE_RE.match(sql)
    return m.group(1) if m else None


def parse_execute(sql: str) -> tuple[str, str | None] | None:
    """``(name, raw_args_text | None)``; raises DuckDB's parser error
    for the empty-parens form (probed)."""
    m = EXECUTE_RE.match(sql)
    if not m:
        return None
    name, args = m.group(1), m.group(2)
    if args is not None and not args.strip():
        raise ValueError('Parser Error: syntax error at or near ")"')
    return name, args


def analyze(name: str, body: str) -> PreparedStatement:
    """Classify the statement's parameter style and pre-rewrite its
    markers to Spark named-parameter form (:p1.. / :name)."""
    # counted on the masked text, rewritten by sub_outside_literals: both
    # read the same lexical pass, so counting and rewriting agree on what
    # is a marker (a ``?`` in a comment never inflates the arity)
    masked = dialect.Lexed(body).masked
    numbered = [int(x) for x in _NUMBERED_RE.findall(masked)]
    named = _NAMED_RE.findall(masked)  # cannot match $1: leading [A-Za-z_]
    qmarks = len(_QMARK_RE.findall(masked))
    if named:
        order = list(dict.fromkeys(named))
        bound = dialect.sub_outside_literals(
            re.compile(r"\$([A-Za-z_]\w*)"), lambda m: f":{m.group(1)}", body
        )
        return PreparedStatement(name, body, "named", len(order), order, bound)
    if numbered:
        bound = dialect.sub_outside_literals(
            re.compile(r"\$(\d+)"), lambda m: f":p{m.group(1)}", body
        )
        return PreparedStatement(
            name, body, "numbered", max(numbered), [], bound
        )
    if qmarks:
        counter = iter(range(1, qmarks + 1))
        bound = dialect.sub_outside_literals(
            re.compile(r"\?"), lambda m: f":p{next(counter)}", body
        )
        return PreparedStatement(name, body, "numbered", qmarks, [], bound)
    return PreparedStatement(name, body, "none", 0, [], body)


def split_args(raw: str) -> tuple[list[str], dict[str, str]]:
    """EXECUTE argument list → (positional_texts, named_texts); the
    named form is DuckDB's ``ident := expr``."""
    pos: list[str] = []
    named: dict[str, str] = {}
    for part in dialect.Lexed(raw).split_toplevel():
        part = part.strip()
        m = re.match(r"^([A-Za-z_]\w*)\s*:=\s*(.*)$", part, re.S)
        if m:
            named[m.group(1)] = m.group(2).strip()
        else:
            pos.append(part)
    return pos, named


def check_arity(
    st: PreparedStatement, pos: list[str], named: dict[str, str]
) -> None:
    """DuckDB's probed missing/excess/mixing error shapes."""
    if pos and named:
        # probed: DuckDB refuses mixing outright, both statement kinds
        raise ValueError(
            "Not implemented Error: Mixing named parameters and "
            "positional parameters is not supported yet"
        )
    if st.kind == "named":
        extra = [k for k in named if k not in st.names]
        if extra:
            # probed: excess NAMED args report their names
            raise ValueError(
                "Invalid Input Error: Parameter argument/count mismatch, "
                "identifiers of the excess parameters: " + ", ".join(extra)
            )
        # positional args never satisfy named params (probed:
        # EXECUTE qn(1, 2) reports ALL names missing)
        missing = st.names if pos else [
            n for n in st.names if n not in named
        ]
        if missing:
            raise ValueError(
                "Invalid Input Error: Values were not provided for the "
                "following prepared statement parameters: "
                + ", ".join(missing)
            )
        return
    # numbered/qmark: named args are ignored by DuckDB's binder (probed:
    # EXECUTE qp(p1 := 1, p2 := 2) reports params 1, 2 missing)
    n_given = len(pos)
    if n_given > st.n_params:
        excess = ", ".join(
            str(i) for i in range(st.n_params + 1, n_given + 1)
        )
        raise ValueError(
            "Invalid Input Error: Parameter argument/count mismatch, "
            f"identifiers of the excess parameters: {excess}"
        )
    if n_given < st.n_params:
        missing = ", ".join(
            str(i) for i in range(n_given + 1, st.n_params + 1)
        )
        raise ValueError(
            "Invalid Input Error: Values were not provided for the "
            f"following prepared statement parameters: {missing}"
        )


class PreparedStore:
    """Per-engine registry of prepared statements."""

    def __init__(self) -> None:
        self._statements: dict[str, PreparedStatement] = {}

    def put(self, st: PreparedStatement) -> None:
        """Register AFTER validation succeeded — a failed re-PREPARE
        must leave the previously working statement intact (probed:
        DuckDB only swaps on a successful bind)."""
        self._statements[st.name] = st  # re-PREPARE silently replaces

    def deallocate(self, name: str) -> None:
        self._statements.pop(name, None)  # missing name: silent (probed)

    def get(self, name: str) -> PreparedStatement:
        st = self._statements.get(name)
        if st is None:
            raise ValueError(
                f'Binder Error: Prepared statement "{name}" does not exist'
            )
        return st

    def bind_args(
        self, st: PreparedStatement, raw: str | None
    ) -> dict[str, str]:
        """Validated {spark_param_name: sql_expr_text} for an EXECUTE."""
        pos, named = split_args(raw) if raw is not None else ([], {})
        check_arity(st, pos, named)
        if st.kind == "named":
            return dict(named)
        return {f"p{i + 1}": text for i, text in enumerate(pos)}


_MARKER_RE = re.compile(r":([A-Za-z_]\w*)")


def param_names(st: PreparedStatement) -> list[str]:
    if st.kind == "named":
        return list(st.names)
    return [f"p{i}" for i in range(1, st.n_params + 1)]


def substitute(st: PreparedStatement, binds: dict[str, str]) -> str:
    """Substitute the rewritten ``:name`` markers with parenthesized
    argument expressions (outside literals) — the prepared-DML path,
    where the statement re-enters the engine's own SQL dispatch."""
    return dialect.sub_outside_literals(
        _MARKER_RE,
        lambda m: f"({binds[m.group(1)]})"
        if m.group(1) in binds
        else m.group(0),
        st.bound,
    )


def _is_catalog_error(e: Exception) -> bool:
    s = str(e)
    return (
        "TABLE_OR_VIEW_NOT_FOUND" in s
        or "UNRESOLVED_COLUMN" in s
        or "does not exist" in s
    )


def dispatch(store: PreparedStore, query: str, run_sql, run_statement):
    """Shared PREPARE/EXECUTE/DEALLOCATE dispatch for ``Engine.sql``
    and the sqllogic runner.  ``run_sql(bound_sql, {param: expr_text})``
    executes a parameterized query body; a body of any other statement
    kind (prepared DML, ...) re-enters the caller's statement router as
    ``run_statement(sql)`` with the arguments substituted.
    Returns ``(handled, result)``.

    Catalog errors raise at PREPARE time like DuckDB (the statement is
    bound when prepared): the body is analyzed with NULL parameters,
    and only unknown-relation/column errors reject — other analysis
    complaints (e.g. a NULL where a fold-time integer is required)
    defer to EXECUTE, where real arguments are in scope."""
    pr = parse_prepare(query)
    if pr is not None:
        name, body = pr
        st = analyze(name, body)
        if dialect.classify_statement(body) == "query":
            try:
                run_sql(st.bound, {p: "NULL" for p in param_names(st)})
            except Exception as e:  # noqa: BLE001 — filter below
                if _is_catalog_error(e):
                    # validate-then-register: the previously prepared
                    # statement under this name stays usable (probed)
                    raise
        store.put(st)
        return True, None
    name = parse_deallocate(query)
    if name is not None:
        store.deallocate(name)
        return True, None
    ex = parse_execute(query)
    if ex is not None:
        name, raw = ex
        if name.upper() == "IMMEDIATE":
            return False, None  # Spark's EXECUTE IMMEDIATE, not ours
        st = store.get(name)
        binds = store.bind_args(st, raw)
        if dialect.classify_statement(st.body) != "query":
            return True, run_statement(substitute(st, binds))
        return True, run_sql(st.bound, binds)
    return False, None


# EXECUTE argument texts that fold to a literal without Spark: an integer
# in BIGINT range (a wider one is a DECIMAL in SQL), a single-quoted string
# with no quote or backslash inside (Spark would unescape or concatenate),
# NULL, TRUE and FALSE
_INT_ARG_RE = re.compile(r"[+-]?\d+")
_STRING_ARG_RE = re.compile(r"'([^'\\]*)'")
_WORD_ARGS = {"NULL": None, "TRUE": True, "FALSE": False}


def _plain_literal(text: str) -> tuple[bool, object]:
    """``(True, value)`` when ``text`` is a plain literal whose folded
    value and type the one-row SELECT would give as well."""
    text = text.strip()
    if _INT_ARG_RE.fullmatch(text):
        value = int(text)
        return -(2**63) <= value < 2**63, value
    m = _STRING_ARG_RE.fullmatch(text)
    if m is not None:
        return True, m.group(1)
    word = text.upper()
    return word in _WORD_ARGS, _WORD_ARGS.get(word)


def fold_args(spark, binds: dict[str, str]) -> dict:
    """Evaluate EXECUTE argument expressions to literal values.

    Spark's parameterized SQL accepts only LITERAL arguments
    (INVALID_SQL_ARG otherwise), while DuckDB accepts any constant
    scalar expression.  A plain literal (`_plain_literal`) is its Python
    value, with no Spark work.  Any other argument (an expression, a
    decimal — ``1.5`` is DECIMAL(2,1) in SQL but DOUBLE through
    ``F.lit``) is constant-folded by one FROM-less SELECT over all of
    them, which runs one Spark job, and passed as the value that SELECT
    returns.  ``spark.sql(query, args=...)`` makes each value the
    ``F.lit`` Column it binds, so a statement answered from a recipe
    (local_exec) builds none.  Subquery arguments are rejected with
    DuckDB's exact error (probed: 'Only scalar parameters, named
    parameters or NULL supported')."""
    if not binds:
        return {}
    for text in binds.values():
        if re.search(r"\bSELECT\b", dialect.Lexed(text).masked, re.I):
            raise ValueError(
                "Invalid Input Error: Only scalar parameters, named "
                "parameters or NULL supported for EXECUTE"
            )
    out, rest = {}, []
    for k, text in binds.items():
        plain, value = _plain_literal(text)
        if plain:
            out[k] = value
        else:
            rest.append(k)
    if rest:
        # param names are \w+, safe as aliases
        projection = ", ".join(f"({binds[k]}) AS {k}" for k in rest)
        row = spark.sql(f"SELECT {projection}").collect()[0]
        out.update({k: row[k] for k in rest})
    return out

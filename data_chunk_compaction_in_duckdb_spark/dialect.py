"""DuckDB-dialect SQL forms Spark's parser lacks, rewritten textually.

QUALIFY (reference: DuckDB binds QUALIFY as a filter evaluated over the
windowed, pre-filter result set — src/planner/binder/query_node/
plan_select_node.cpp, test/sql/qualify/): Spark SQL has no QUALIFY, so
``rewrite_qualify`` performs the same binder step as a source rewrite::

    SELECT <sel> FROM ... [WHERE/GROUP BY/HAVING] QUALIFY <pred> [tail]
    -->
    SELECT * FROM (
      SELECT __q.*, (<pred>) AS __qualify FROM ( <head> ) __q
    ) WHERE __qualify <tail>

The predicate is evaluated in a SELECT over the un-filtered inner
result, so window functions inside it (``QUALIFY row_number() OVER
(...) = 1``) and references to the head's select aliases both resolve
with DuckDB's semantics — windows see every pre-QUALIFY row.  The
helper boolean column is dropped by the caller (the rewriter returns
its name).  Only a TOP-LEVEL QUALIFY is rewritten; the scanner tracks
parenthesis depth and string literals so subqueries, quoted strings and
identifiers never false-positive.  SELECT DISTINCT + QUALIFY follows
DuckDB's clause order (WINDOW -> QUALIFY -> DISTINCT: filter first,
THEN de-duplicate — test/sql/qualify/test_qualify.test): the rewriter
strips DISTINCT from the head and re-applies it on the OUTER select,
after the filter.  DISTINCT ON + QUALIFY is rejected loudly (the
hoist would change which row survives per group).
"""

from __future__ import annotations

import bisect
import math
import re

_QUALIFY_WORD = re.compile(r"\bQUALIFY\b", re.I)
_TAIL_WORD = re.compile(r"\b(ORDER|LIMIT|OFFSET|WINDOW)\b", re.I)
_SELECT_HEAD = re.compile(r"^\s*SELECT\s+", re.I)
_DISTINCT_HEAD = re.compile(r"^\s*SELECT\s+DISTINCT\b", re.I)
_FROM_WORD = re.compile(r"\bFROM\b", re.I)
_AS_ALIAS = re.compile(r"\bAS\s+(\w+)\s*$", re.I)
_BARE_ALIAS = re.compile(r"\)\s+(\w+)\s*$")


# --- the one lexical pass ---------------------------------------------
# Every quote-, comment- and bracket-aware scan of a statement works on
# one ``Lexed(sql)`` result (DuckDB lexes a statement once and every later
# pass reads its tokens).  The rule: ``'...'`` strings with ``''``
# escapes, ``"..."`` quoted identifiers, ``--`` line comments and
# ``/* */`` block comments are data; an unterminated one runs to the end
# of the text.  Brackets ``()``, ``[]`` and ``{}`` are matched over the
# masked text, so a bracket inside quoted text or a comment never counts.

_LITERAL_RE = re.compile(
    r"'[^']*(?:''[^']*)*'?"  # string literal, '' escapes a quote
    r'|"[^"]*"?'  # quoted identifier
    r"|--[^\n]*"  # line comment
    r"|/\*.*?(?:\*/|\Z)",  # block comment
    re.S,
)
_BRACKET_RE = re.compile(r"[()\[\]{}]")
_PAIR = {c: p for p in ("()", "[]", "{}") for c in p}
_COMMA_RE = re.compile(",")
_OPERAND_RE = re.compile(r"[$:]?[\w.\"]+|\?")


class Lexed:
    """One lexical pass over ``sql``.

    ``spans`` are the ``(start, end)`` spans of its string literals,
    quoted identifiers and comments; ``masked`` is ``sql`` with each
    span blanked to spaces (same length, so a match on ``masked`` is at
    the same index in ``sql`` and never sees quoted text).  Bracket
    matching and the depth-0 scans are built on first use."""

    def __init__(self, sql: str) -> None:
        self.sql = sql
        self.spans: list[tuple[int, int]] = []
        parts: list[str] = []
        last = 0
        for m in _LITERAL_RE.finditer(sql):
            a, b = m.span()
            self.spans.append((a, b))
            parts += (sql[last:a], " " * (b - a))
            last = b
        parts.append(sql[last:])
        self.masked = "".join(parts)
        self._pairs: dict[int, int] | None = None

    def span_at(self, i: int) -> tuple[int, int] | None:
        """The literal/comment span containing index ``i``, else None."""
        k = bisect.bisect_right(self.spans, (i, math.inf)) - 1
        if k >= 0 and i < self.spans[k][1]:
            return self.spans[k]
        return None

    def _brackets(self) -> dict[int, int]:
        # one pass: each bracket's partner (both directions), the
        # openers in text order, and the depth-0 regions between them
        if self._pairs is None:
            pairs: dict[int, int] = {}
            stack: list[int] = []
            self._openers: list[int] = []
            self._top: list[tuple[int, int]] = []
            start, text = 0, self.masked
            for m in _BRACKET_RE.finditer(text):
                i, ch = m.start(), m.group()
                if ch in "([{":
                    if not stack and start < i:
                        self._top.append((start, i))
                    stack.append(i)
                    self._openers.append(i)
                elif stack and text[stack[-1]] + ch == _PAIR[ch]:
                    o = stack.pop()
                    pairs[o], pairs[i] = i, o
                    if not stack:
                        start = i + 1
            if not stack and start < len(text):
                self._top.append((start, len(text)))
            self._pairs = pairs
        return self._pairs

    def partner(self, i: int) -> int:
        """Index of the bracket matching the one at ``i`` (forwards from
        an opener, backwards from a closer)."""
        j = self._brackets().get(i)
        if j is None:
            raise ValueError(f"unbalanced {_PAIR[self.sql[i]]} in expression")
        return j

    def enclosing_call(self, pos: int) -> str | None:
        """Lower-cased name of the function whose argument list holds
        ``pos`` (None at top level or in a bare paren group)."""
        pairs = self._brackets()
        for o in reversed(self._openers):
            if o < pos and self.masked[o] == "(" and pairs.get(o, pos) >= pos:
                m = re.search(r"(\w+)\s*$", self.masked[:o])
                return m.group(1).lower() if m else None
        return None

    def toplevel(self, pattern: re.Pattern, pos: int = 0):
        """Matches of ``pattern`` over the masked text at bracket depth
        0 (each match lies inside one depth-0 region), from ``pos``."""
        self._brackets()
        for s, e in self._top:
            if e > pos:
                yield from pattern.finditer(self.masked, max(s, pos), e)

    def find_toplevel(self, pattern: re.Pattern, pos: int = 0):
        """The first depth-0 match of ``pattern`` from ``pos``, or None."""
        return next(self.toplevel(pattern, pos), None)

    def operand_start(self, end: int) -> int:
        """Start index of the postfix-operand chain ending just before
        ``end`` — identifiers (dotted / ``::``-cast chains), string
        literals, function calls, paren groups and subscript groups."""
        sql = self.sql
        i = end - 1
        while i >= 0 and sql[i].isspace():
            i -= 1
        if i < 0:
            raise ValueError("operator at start of expression")
        while i >= 0:
            ch = sql[i]
            if ch == ")":
                i = self.partner(i) - 1
                # adjacent identifier = function name (unless a keyword)
                m = re.search(r"(\w+)\s*$", sql[: i + 1])
                if m and m.group(1).upper() not in _SQL_KEYWORDS_LEFT:
                    i = m.start(1) - 1
            elif ch == "]":
                i = self.partner(i) - 1
                continue  # the base of the subscript is further left
            elif ch == "}":
                i = self.partner(i) - 1
            elif ch in "'\"":
                i = self.span_at(i)[0] - 1
            elif ch.isalnum() or ch == "_":
                while i >= 0 and (sql[i].isalnum() or sql[i] == "_"):
                    i -= 1
                # parameter markers are operands: `$1` / `$name`, and a
                # SINGLE leading `:` (Spark's named form — a double colon
                # is a cast, handled by the connector check below)
                if i >= 0 and sql[i] == "$":
                    i -= 1
                    break
                if (
                    i >= 0
                    and sql[i] == ":"
                    and not (i >= 1 and sql[i - 1] == ":")
                ):
                    i -= 1
                    break
            else:
                break
            # connectors keep the chain going left: `.` and `::`
            j = i
            while j >= 0 and sql[j].isspace():
                j -= 1
            if j >= 0 and sql[j] == ".":
                i = j - 1
                continue
            if j >= 1 and sql[j - 1 : j + 1] == "::":
                i = j - 2
                continue
            break
        start = i + 1
        while start < end and sql[start].isspace():
            start += 1
        return start

    def operand_end(self, start: int) -> int:
        """End index (exclusive) of the prefix operand starting at
        ``start`` — a string/number literal, identifier chain, function
        call or paren group (enough for a SIMILAR TO pattern)."""
        sql, n = self.sql, len(self.sql)
        i = start
        while i < n and sql[i].isspace():
            i += 1
        if i >= n:
            raise ValueError("operator at end of expression")
        if sql[i] == "'":
            return self.span_at(i)[1]
        if sql[i] == "(":
            return self.partner(i) + 1
        # parameter markers ($1 / $name / :name / ?) are operands
        m = _OPERAND_RE.match(sql, i)
        if not m:
            raise ValueError(f"cannot parse operand at: {sql[i:i+30]!r}")
        k = m.end()
        while k < n and sql[k].isspace():
            k += 1
        if k < n and sql[k] == "(":
            return self.partner(k) + 1
        return m.end()

    def split_toplevel(self) -> list[str]:
        """``sql`` split on its depth-0 commas (pieces unstripped)."""
        cuts = [m.start() for m in self.toplevel(_COMMA_RE)]
        return [
            self.sql[a + 1 : b]
            for a, b in zip([-1] + cuts, cuts + [len(self.sql)])
        ]


def sub_outside_literals(pattern: re.Pattern, repl, sql: str) -> str:
    """``pattern.sub(repl, sql)`` that skips matches starting inside a
    string literal, quoted identifier or comment — a call site must
    never be rewritten when its name appears as DATA (``SELECT
    'duckdb_settings()' AS s``).  ``repl`` is a plain string or a
    ``match -> str`` callable."""
    lx = Lexed(sql)
    parts: list[str] = []
    last = 0
    for m in pattern.finditer(sql):
        if lx.span_at(m.start()) is not None:
            continue
        parts.append(sql[last : m.start()])
        parts.append(repl(m) if callable(repl) else repl)
        last = m.end()
    return "".join(parts) + sql[last:]


def _alias_map(select_list: str) -> dict[str, str]:
    """Map select-list aliases to their expressions.  Recognized forms:
    ``expr AS alias`` and the bare ``expr) alias`` (alias directly after
    a closing parenthesis — ``rank() OVER (...) rnk``, ``count(*) n``).
    Bare identifiers after arbitrary expressions are NOT treated as
    aliases (``a + b`` has no alias named b)."""
    out: dict[str, str] = {}
    for item in Lexed(select_list).split_toplevel():
        it = item.strip()
        m = _AS_ALIAS.search(it)
        if m:
            out[m.group(1)] = it[: m.start()].strip()
            continue
        m = _BARE_ALIAS.search(it)
        if m:
            out[m.group(1)] = it[: m.start() + 1].strip()
    return out


_FROM_JOIN_IDENT = re.compile(
    r"\b(?:FROM|JOIN)\s+[A-Za-z_]\w*"          # first relation
    r"(?:\s+(?!WHERE|GROUP|HAVING|QUALIFY|WINDOW|ORDER|LIMIT|OFFSET|"
    r"JOIN|ON|USING|INNER|LEFT|RIGHT|FULL|CROSS|UNION|INTERSECT|"
    r"EXCEPT)[A-Za-z_]\w*)?"                   # optional relation alias
    r"(?:\s*,\s*[A-Za-z_]\w*(?:\s+[A-Za-z_]\w*)?)*",  # , t2 [alias] ...
    re.I,
)


def rewrite_qualify(sql: str, column_resolver=None):
    """If ``sql`` has a top-level QUALIFY clause, return
    ``(rewritten_sql, helper_column, reorder)`` — the caller executes
    the rewrite, reorders any positional-``?`` argument list with
    ``reorder(args)`` (the rewrite can move the predicate relative to
    other clauses, changing marker order), and drops the helper column;
    otherwise None.

    Preferred form (matches DuckDB's binder scope, where the predicate
    may reference source columns that are NOT selected): inject the
    predicate as a boolean column INTO the head's own select list,
    substituting select-alias references with their expressions, then
    filter one level up.  Falls back to evaluating the predicate over
    the projected head (alias scope only) when the head has no parsable
    top-level SELECT ... FROM shape.  A DISTINCT head is hoisted to the
    outer select (filter first, then de-dup — DuckDB's clause order).

    ``column_resolver`` (optional): ``name -> list[str] | None`` giving
    the columns of a FROM/JOIN table identifier.  DuckDB resolves a
    QUALIFY name that is BOTH a source column and a select alias to the
    SOURCE column (probed — even when the alias wraps a window
    function), so aliases shadowed by a resolvable source column are
    NOT substituted; the injected predicate then binds to the source
    column inside the head's own scope, matching DuckDB's precedence."""
    lx = Lexed(sql)
    m = lx.find_toplevel(_QUALIFY_WORD)
    if m is None:
        return None
    t = lx.find_toplevel(_TAIL_WORD, m.end())
    cut = len(sql) if t is None else t.start()
    head = sql[: m.start()].rstrip()
    pred, tail = sql[m.end() : cut], sql[cut:]
    pred = pred.strip().rstrip(";").strip()
    tail = tail.strip().rstrip(";").strip()
    if not pred:
        raise ValueError("QUALIFY requires a predicate")
    # DuckDB's binder rule (probed): QUALIFY demands at least one window
    # function in the SELECT clause or the QUALIFY clause — a plain
    # boolean predicate must ERROR, not silently become a filter.
    # Detection is any-depth outside literals (windows nest inside
    # CAST/function parens); the one unenforced corner is a window that
    # exists ONLY inside a subquery, which DuckDB would still reject.
    if not any(
        re.search(r"\bOVER\b", part, re.I)
        for part in (lx.masked[: m.start()], lx.masked[m.end() : cut])
    ):
        raise ValueError(
            "Binder Error: at least one window function must appear in "
            "the SELECT clause or the QUALIFY clause"
        )

    # DuckDB's clause order is WINDOW -> QUALIFY -> DISTINCT (probed:
    # the filter runs BEFORE de-duplication).  Hoist DISTINCT out of
    # the head and re-apply it on the outer select, after the filter —
    # post-filter the helper column is constant-true, so the outer
    # DISTINCT * de-duplicates exactly the original select list.
    distinct = ""
    if _DISTINCT_HEAD.match(head):
        if re.match(r"^\s*SELECT\s+DISTINCT\s+ON\b", head, re.I):
            raise NotImplementedError(
                "QUALIFY combined with SELECT DISTINCT ON is not "
                "supported (the DISTINCT hoist would change which row "
                "survives per group)"
            )
        distinct = "DISTINCT "
        head = re.sub(
            r"^(\s*SELECT\s+)DISTINCT\b\s*", r"\1", head, count=1,
            flags=re.I,
        )

    def markers(text: str) -> int:
        return Lexed(text).masked.count("?")

    hx = Lexed(head)
    m_sel = _SELECT_HEAD.match(head)
    m_from = hx.find_toplevel(_FROM_WORD)
    inject_ok = (
        m_sel is not None
        and m_from is not None
        and m_from.start() > m_sel.end()
    )
    if inject_ok:
        select_list = head[m_sel.end() : m_from.start()]
        pred_sub = pred
        amap = _alias_map(select_list)
        if amap and column_resolver is not None:
            # source-column precedence: drop aliases shadowed by a
            # column of any top-level FROM/JOIN relation in the head —
            # including comma-separated FROM lists (FROM t1, t2) with
            # optional relation aliases (an unresolvable alias token
            # simply contributes nothing)
            src: set[str] = set()
            for mt in hx.toplevel(_FROM_JOIN_IDENT):
                for ident in re.findall(r"[A-Za-z_]\w*", mt.group(0)):
                    if ident.upper() in ("FROM", "JOIN"):
                        continue
                    cols = column_resolver(ident)
                    if cols:
                        src.update(c.lower() for c in cols)
            amap = {a: x for a, x in amap.items() if a.lower() not in src}
        if amap:
            # Substitute ALL aliases in ONE pass over the ORIGINAL
            # predicate, skipping string-literal spans: sequential
            # re.sub cascades (SELECT b AS a, a AS b ... QUALIFY a
            # would resolve through BOTH aliases) and rewrites
            # alias-shaped text inside literals ('%rn%').
            alias_re = re.compile(
                r"\b("
                + "|".join(
                    re.escape(a)
                    for a in sorted(amap, key=len, reverse=True)
                )
                + r")\b"
            )
            parts: list[str] = []
            last = 0
            for m in alias_re.finditer(Lexed(pred).masked):
                # dot-qualified references are relation-scoped (v.rn) —
                # substituting either side of the dot produces invalid
                # SQL (v.(expr)) or rewrites the qualifier itself
                if (m.start() > 0 and pred[m.start() - 1] == ".") or (
                    m.end() < len(pred) and pred[m.end()] == "."
                ):
                    continue
                expr = amap[m.group(1)]
                if markers(expr):
                    # substituting would duplicate ? markers — fall back
                    inject_ok = False
                    break
                parts.append(pred[last : m.start()])
                parts.append(f"({expr})")
                last = m.end()
            else:
                pred_sub = "".join(parts) + pred[last:]
    if inject_ok:
        inner = (
            head[: m_from.start()]
            + f", ({pred_sub}) AS __qualify "
            + head[m_from.start() :]
        )
        rewritten = (
            f"SELECT {distinct}* FROM (\n{inner}\n) __q WHERE __qualify"
            + (f"\n{tail}" if tail else "")
        )
        n_sel = markers(select_list)
        n_rest = markers(head[m_from.start() :])
        n_pred = markers(pred_sub)

        def reorder(args: list) -> list:
            # original: sel, rest, pred, tail -> new: sel, pred, rest, tail
            need = n_sel + n_rest + n_pred
            if len(args) < need:
                raise ValueError(
                    f"QUALIFY rewrite: {need}+ positional args expected, "
                    f"got {len(args)}"
                )
            return (
                list(args[:n_sel])
                + list(args[n_sel + n_rest : n_sel + n_rest + n_pred])
                + list(args[n_sel : n_sel + n_rest])
                + list(args[n_sel + n_rest + n_pred :])
            )

        return rewritten, "__qualify", reorder

    rewritten = (
        f"SELECT {distinct}* FROM (\n"
        f"  SELECT __q.*, ({pred}) AS __qualify FROM (\n{head}\n  ) __q\n"
        ") __qq WHERE __qualify"
        + (f"\n{tail}" if tail else "")
    )
    n_head, n_pred = markers(head), markers(pred)

    def reorder(args: list) -> list:
        # original marker order: head, pred, tail ->
        # rewritten order: pred, head, tail
        if len(args) < n_head + n_pred:
            raise ValueError(
                f"QUALIFY rewrite: {n_head + n_pred}+ positional args "
                f"expected, got {len(args)}"
            )
        return (
            list(args[n_head : n_head + n_pred])
            + list(args[:n_head])
            + list(args[n_head + n_pred :])
        )

    return rewritten, "__qualify", reorder


# --------------------------------------------------------- star modifiers
#
# SELECT * EXCLUDE (...) REPLACE (...) — DuckDB's star modifiers
# (reference test/sql/parser/test_exclude.test, test_replace.test).
# Spark knows `* EXCEPT (cols)` natively; EXCLUDE maps onto it
# textually, and REPLACE (e AS c, ...) becomes `* EXCEPT (c, ...),
# e AS c, ...` — evaluated in the same select scope, so ORDER BY on a
# replaced output column resolves to the NEW value exactly as DuckDB
# binds it.  One visible divergence, documented: replaced columns move
# to the END of the projection (DuckDB keeps their position); the
# driver's column-name-sorted compare and any explicit projection are
# order-insensitive.

_STAR_RE = re.compile(r"\*(?=\s*(?:EXCLUDE|REPLACE)\b)", re.I)
_STARMOD_WORD = re.compile(r"\s*(EXCLUDE|REPLACE)\b\s*", re.I)
_IDENT = re.compile(r"\w+")


# --- statement classification ------------------------------------------
# One leading-keyword switch per statement, the shape of DuckDB's
# embedded API (one parse, then one statement-type switch —
# src/main/client_context.cpp).  ``Engine.sql`` and the sqllogic runner
# both route by it; each kind's handler keeps its own grammar.

_STATEMENT_KINDS = {
    **dict.fromkeys(("BEGIN", "START", "COMMIT", "ROLLBACK", "ABORT"), "txn"),
    **dict.fromkeys(("INSERT", "UPDATE", "DELETE", "TRUNCATE"), "dml"),
    **dict.fromkeys(("PREPARE", "EXECUTE", "DEALLOCATE"), "prepared"),
    "EXPLAIN": "explain",
    **dict.fromkeys(
        ("VACUUM", "CHECKPOINT", "EXPORT", "IMPORT"), "maintenance"
    ),
    **dict.fromkeys(("DESCRIBE", "SHOW", "SUMMARIZE"), "introspection"),
    **dict.fromkeys(("SET", "RESET", "PRAGMA"), "settings"),
}
# CREATE/DROP kinds by object word (after OR REPLACE / UNIQUE); any other
# object (TEMP VIEW, FUNCTION, ...) is Spark's to parse
_DDL_KINDS = {
    "VIEW": "catalog_ddl",
    "SCHEMA": "catalog_ddl",
    "SEQUENCE": "sequence_ddl",
    "TABLE": "table_ddl",
    "INDEX": "table_ddl",
}
_HEAD_RE = re.compile(
    r"\s*([A-Za-z]+)\b(?:\s+OR\s+REPLACE\b)?(?:\s+UNIQUE\b)?\s*([A-Za-z]*)",
    re.I,
)


def classify_statement(sql: str) -> str:
    """The statement's kind, from its leading keyword over the literal-
    and comment-masked text: one of ``txn``, ``dml``, ``prepared``,
    ``catalog_ddl`` (view/schema), ``sequence_ddl``, ``table_ddl``
    (CREATE TABLE / [UNIQUE] INDEX), ``explain``, ``maintenance``,
    ``introspection``, ``settings`` or ``query`` (everything else)."""
    m = _HEAD_RE.match(Lexed(sql).masked)
    if m is None:
        return "query"
    word = m.group(1).upper()
    if word in ("CREATE", "DROP"):
        return _DDL_KINDS.get(m.group(2).upper(), "query")
    return _STATEMENT_KINDS.get(word, "query")


def _star_is_expression(out: str, i: int) -> bool:
    """True when the ``*`` at index ``i`` is a star EXPRESSION (select
    list or ``t.*``), not the multiplication operator.  DuckDB parses
    ``SELECT a * exclude FROM t`` as a binary op over a column named
    ``exclude``; only a star preceded by SELECT/DISTINCT/ALL, a comma,
    an opening paren or a qualifying dot can carry modifiers."""
    j = i - 1
    while j >= 0 and out[j].isspace():
        j -= 1
    if j < 0:
        return True
    ch = out[j]
    if ch in ",(.":
        return True
    if ch in ")\"'":
        return False
    m = re.search(r"(\w+)$", out[: j + 1])
    return bool(m) and m.group(1).upper() in ("SELECT", "DISTINCT", "ALL")


def rewrite_star_modifiers(sql: str) -> str | None:
    """Rewrite ``* EXCLUDE (...) [REPLACE (...)]`` star modifiers (at
    any parenthesis depth — subqueries included; a star only counts
    when it is in star-expression position AND the next keyword IS a
    modifier, so ``count(*)`` and multiplication — even by a column
    literally named ``exclude`` — never match) to Spark's ``* EXCEPT``
    + appended replacement expressions.  Returns the rewritten SQL, or
    None when no star modifier is present."""
    out = sql
    while True:
        lx = Lexed(out)
        star = next(
            (
                m
                for m in _STAR_RE.finditer(lx.masked)
                if _star_is_expression(out, m.start())
            ),
            None,
        )
        if star is None:
            return out if out is not sql else None
        excluded: list[str] = []
        replacements: list[tuple[str, str]] = []
        k = star.end()
        while m := _STARMOD_WORD.match(lx.masked, k):
            kind = m.group(1).upper()
            p = m.end()
            if lx.masked.startswith("(", p):
                end = lx.partner(p) + 1
                body = out[p + 1 : end - 1]
            else:
                mi = _IDENT.match(out, p)
                if not mi:
                    raise ValueError(f"malformed {kind} modifier")
                end, body = mi.end(), mi.group(0)
            items = [c.strip() for c in Lexed(body).split_toplevel()]
            if kind == "EXCLUDE":
                excluded.extend(items)
            else:
                for item in items:
                    ma = _AS_ALIAS.search(item)
                    if not ma:
                        raise ValueError(
                            "REPLACE items need the `expr AS col` form"
                        )
                    replacements.append(
                        (item[: ma.start()].strip(), ma.group(1))
                    )
            k = end
        while k < len(out) and out[k].isspace():
            k += 1
        i = star.start()
        drop = excluded + [c for _, c in replacements]
        star_txt = out[: i + 1] + f" EXCEPT ({', '.join(drop)})"
        extra = "".join(f", {e} AS {c}" for e, c in replacements)
        out = star_txt + extra + " " + out[k:]


# --- DuckDB expression-grammar rewrites (round 9) ----------------------
# Forms DuckDB's PG-derived expression grammar accepts that Spark's
# parser rejects or mis-binds (reference src/parser/transform/expression/,
# test/sql/json/, test/sql/types/string/, test/sql/types/list/):
#
#   [e1, e2] / ARRAY[e1, e2]   -> array(e1, e2)        (list literal)
#   e[i]   (integer-literal i) -> element_at(e, i)     (1-based index)
#   e[a:b] (string slice)      -> substring(...)        (1-based, incl.)
#   j -> 'k' / j -> n          -> to_json(variant_get(parse_json(j), p))
#   j ->> 'k' / j ->> n        -> get_json_object(j, p) (unquoted text)
#   x [NOT] SIMILAR TO p       -> x [NOT] RLIKE '^(?:p)$'  (full-match
#                                  regex — DuckDB probed: % is NOT a
#                                  wildcard, pattern is plain RE2)
#   a // b                     -> a div b               (integer division;
#                                  DuckDB falls back to / on non-integer
#                                  operands — documented divergence)
#   x::T[] / CAST(x AS T[n])   -> ARRAY<T>             (array type suffix)
#
# Every rewrite reads the one lexical pass (``Lexed``) of its input: a
# '...' string ('' escapes), a "..." identifier, a -- line comment or a
# /* */ block comment is data.  Keyword and operator searches run on
# ``masked``; ``partner`` matches brackets, ``operand_start`` /
# ``operand_end`` find an operator's operands, ``enclosing_call`` names
# the call around a position, and ``split_toplevel`` splits argument
# lists.  `->` with a non-literal right side is left untouched so Spark
# lambda arrows (`transform(a, x -> x + 1)`) keep working; a
# literal-RHS arrow whose left side is a bare lambda parameter of a
# known higher-order function is also skipped.

_SQL_KEYWORDS_LEFT = frozenset(
    """AND OR NOT IN IS LIKE ILIKE GLOB BETWEEN WHEN THEN ELSE CASE END
    SELECT WHERE FROM ON JOIN HAVING GROUP ORDER BY AS DISTINCT ALL
    UNION EXCEPT INTERSECT VALUES LIMIT OFFSET OVER PARTITION SET
    RETURNING USING TO ESCAPE SIMILAR ROW EXISTS ANY SOME
    INTERVAL""".split()
)

_HOF_NAMES = frozenset(
    """transform filter exists forall aggregate reduce zip_with
    map_filter map_zip_with transform_keys transform_values array_sort
    list_transform list_filter list_reduce list_aggregate""".split()
)

_INT_LIT = re.compile(r"-?\d+\s*$")
_TYPE_HEAD_RE = re.compile(r"(::\s*|\bAS\s+)(\w+)\s*$", re.I)
_TYPE_DIMS_RE = re.compile(r"(?:\s*\[\s*\d*\s*\])+")
_PLAIN_KEY = re.compile(r"[A-Za-z_]\w*$")


_COLON_RE = re.compile("::|:")


def _slice_colon(body: str) -> int:
    """Index of the slice colon at bracket depth 0 (``::`` casts are
    not slice colons); -1 when absent."""
    for m in Lexed(body).toplevel(_COLON_RE):
        if m.group() == ":":
            return m.start()
    return -1


def _slice_rewrite(operand: str, lo: str, hi: str, is_list: bool = False) -> str:
    """DuckDB slice -> substring (strings) / slice (lists): 1-based
    inclusive bounds, missing bound = edge, negative bound counts from
    the end — probed identical for both types ('abcdef'[-3:] = 'def',
    [:-2] = 'abcde', [0:3] = 'abc', [2:100] clamps, [4:2] = '';
    [10,20,30][:-1] = all three).  A slice over a plain column ref is
    rewritten as a STRING slice (the textual rewriter has no types);
    array columns should use list_/array functions or slice directly."""
    lo, hi = lo.strip(), hi.strip()
    e = f"({operand})" if not re.fullmatch(r"[\w.\"]+", operand) else operand
    lenfn = "size" if is_list else "length"

    def bound(txt: str, default: str) -> str:
        # the START bound clamps to 1 (probed: 'ab'[-5:] = 'ab'; an
        # unclamped negative start would make Spark's substring count
        # from the END); the end bound may go below 1 -> empty result
        is_start = default == "1"
        if not txt:
            return default
        if re.fullmatch(r"\d+", txt):
            return str(max(int(txt), 1)) if is_start else txt
        if re.fullmatch(r"-\d+", txt):
            conv = f"{lenfn}({e}) + ({txt}) + 1"
            return f"greatest({conv}, 1)" if is_start else conv
        conv = f"{lenfn}({e}) + ({txt}) + 1"
        if is_start:
            conv = f"greatest({conv}, 1)"
        return (
            f"(CASE WHEN ({txt}) < 0 THEN {conv} "
            f"ELSE greatest({txt}, 1) END)"
        )

    start = bound(lo, "1")
    end = bound(hi, f"{lenfn}({e})")
    if is_list:
        return f"slice({e}, {start}, greatest(({end}) - ({start}) + 1, 0))"
    return f"substring({e}, {start}, ({end}) - ({start}) + 1)"


def _rw_brackets(sql: str) -> str | None:
    """One bracket rewrite (leftmost applicable): list literal,
    integer-literal subscript, slice, or array type suffix.  Returns
    None when no bracket needs rewriting."""
    lx = Lexed(sql)
    for m in re.finditer(r"\[", lx.masked):
        i = m.start()
        close = lx.partner(i) + 1
        body = sql[i + 1 : close - 1]
        j = i - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        prev_word = re.search(r"(\w+)\s*$", sql[: j + 1])
        if prev_word and prev_word.group(1).upper() == "ARRAY":
            # ARRAY[...] constructor
            return (
                sql[: prev_word.start(1)]
                + f"array({body})"
                + sql[close:]
            )
        postfix = j >= 0 and (
            sql[j].isalnum() or sql[j] in "_)]}'\""
        ) and not (
            prev_word
            and prev_word.group(1).upper() in _SQL_KEYWORDS_LEFT
        )
        if not postfix:
            return sql[:i] + f"array({body})" + sql[close:]
        # DuckDB array TYPE suffixes (`x::INT[3]`, `CAST(x AS INT[])`)
        # are not subscripts — the word before the bracket is a type
        # name introduced by `::` or a CAST's `AS`.  Each bracket pair
        # is one ARRAY<...> level (a fixed size is not kept); T goes
        # through the same VARCHAR -> STRING mapping as a plain cast.
        tm = _TYPE_HEAD_RE.search(sql, 0, i)
        if tm:
            dims = _TYPE_DIMS_RE.match(sql, i)
            if dims and (
                tm.group(1).startswith(":")
                or lx.enclosing_call(i) in ("cast", "try_cast")
            ):
                t = tm.group(2)
                t = "STRING" if t.upper() == "VARCHAR" else t
                k = dims.group().count("[")
                return (
                    sql[: tm.start(2)]
                    + "ARRAY<" * k + t + ">" * k
                    + sql[dims.end() :]
                )
            continue
        colon = _slice_colon(body)
        if colon >= 0:
            start = lx.operand_start(i)
            operand = sql[start:i].strip()
            # a syntactically-visible array operand slices as a list
            is_list = bool(
                re.match(r"(array\s*\(|\[)", operand, re.I)
            ) or operand.rstrip().endswith("]")
            repl = _slice_rewrite(
                operand, body[:colon], body[colon + 1 :], is_list=is_list
            )
            return sql[:start] + repl + sql[close:]
        if _INT_LIT.fullmatch(body.strip()):
            # 1-based list index (DuckDB) vs 0-based Spark subscript;
            # try_element_at is 1-based, supports negatives from the
            # end, and returns NULL out of range exactly like DuckDB
            # (probed; plain element_at raises under ANSI).  Index 0 is
            # NULL in DuckDB but an INVALID_INDEX_OF_ZERO error even in
            # try_element_at — fold it to a NULL index.
            start = lx.operand_start(i)
            operand = sql[start:i].strip()
            idx = body.strip()
            if int(idx) == 0:
                idx = "CAST(NULL AS INT)"
            return (
                sql[:start]
                + f"try_element_at({operand}, {idx})"
                + sql[close:]
            )
        # string-keyed subscript (map/struct): Spark's native form
        # already matches DuckDB — leave untouched
    return None


def _json_path(rhs: str) -> str | None:
    """Literal JSON-arrow RHS -> Spark JSON path ('$'-rooted)."""
    rhs = rhs.strip()
    if re.fullmatch(r"-?\d+", rhs):
        return f"$[{rhs}]"
    if len(rhs) >= 2 and rhs[0] == "'" and rhs[-1] == "'":
        key = rhs[1:-1].replace("''", "'")
        if key.startswith("$"):
            return key
        if _PLAIN_KEY.fullmatch(key):
            return f"$.{key}"
        return f"$['{key}']"
    return None


def _rw_arrows(sql: str) -> str | None:
    """One JSON-arrow rewrite (leftmost).  ``->`` keeps JSON rendering
    (strings stay quoted — probed '{"s":"x"}' -> 's' = '"x"'), ``->>``
    extracts text.  Only literal right sides rewrite; Spark lambda
    arrows (non-literal RHS, or bare-identifier LHS inside a known
    higher-order function) are preserved."""
    lx = Lexed(sql)
    for m in re.finditer(r"->>?", lx.masked):
        i = m.start()
        is_text = m.group(0) == "->>"
        rend = lx.operand_end(m.end())
        path = _json_path(sql[m.end() : rend])
        if path is None:
            continue  # lambda body or computed path — leave alone
        start = lx.operand_start(i)
        operand = sql[start:i].strip()
        if _PLAIN_KEY.fullmatch(operand) or re.fullmatch(
            r"\(\s*\w+(\s*,\s*\w+)*\s*\)", operand
        ):
            if lx.enclosing_call(start) in _HOF_NAMES:
                continue  # `transform(a, x -> 1)`-style lambda
        qpath = path.replace("'", "''")
        if is_text:
            repl = f"get_json_object({operand}, '{qpath}')"
        else:
            repl = (
                f"to_json(variant_get(parse_json({operand}), '{qpath}'))"
            )
        return sql[:start] + repl + sql[rend:]
    return None


_SIMILAR_RE = re.compile(r"\b(NOT\s+)?SIMILAR\s+TO\b", re.I)


def _rw_similar_to(sql: str) -> str | None:
    """One [NOT] SIMILAR TO rewrite (leftmost) -> [NOT] RLIKE with the
    pattern anchored for a FULL match (DuckDB probed: the pattern is a
    plain regex — '%' is NOT a wildcard — and must match the whole
    string)."""
    lx = Lexed(sql)
    for m in _SIMILAR_RE.finditer(lx.masked):
        neg = "NOT " if m.group(1) else ""
        rend = lx.operand_end(m.end())
        rhs = sql[m.end() : rend].strip()
        if rhs.startswith("'") and rhs.endswith("'") and len(rhs) >= 2:
            patt = rhs[1:-1]
            anchored = f"'^(?:{patt})$'"
        else:
            anchored = f"concat('^(?:', {rhs}, ')$')"
        return f"{sql[: m.start()]}{neg}RLIKE {anchored}{sql[rend:]}"
    return None


def _rw_intdiv(sql: str) -> str | None:
    """`a // b` -> `a div b` (DuckDB's integer division truncates
    toward zero, exactly Spark's div; non-integer operands fall back
    to `/` in DuckDB — the one documented divergence)."""
    m = re.search(r"//", Lexed(sql).masked)
    return None if m is None else sql[: m.start()] + " div " + sql[m.end() :]


# A bare VARCHAR target type: DuckDB's VARCHAR is unbounded, Spark's
# needs a length, and its unbounded twin is STRING.  `VARCHAR(n)` and
# DDL column types are left alone.
_VARCHAR_CAST_RE = re.compile(r"(\bAS\s+|::\s*)VARCHAR\b(?!\s*\()", re.I)


def _rw_varchar_cast(sql: str) -> str | None:
    """`CAST(x AS VARCHAR)` / `x::VARCHAR` -> STRING (leftmost)."""
    lx = Lexed(sql)
    for m in _VARCHAR_CAST_RE.finditer(lx.masked):
        if m.group(1).upper().startswith("AS") and lx.enclosing_call(
            m.start()
        ) not in ("cast", "try_cast"):
            continue  # a column alias named varchar
        return sql[: m.end(1)] + "STRING" + sql[m.end() :]
    return None


def rewrite_expressions(sql: str) -> str | None:
    """Apply every DuckDB expression-grammar rewrite to a fixpoint.
    Returns the rewritten SQL, or None when the text is already
    Spark-clean (the overwhelmingly common case — one regex probe per
    family, no scan)."""
    if not re.search(
        r"\[|\{|->|//|\bSIMILAR\s+TO\b|" + _VARCHAR_CAST_RE.pattern + "|"
        + _FN_PROBE,
        sql,
        re.I,
    ):
        return None
    out = sql
    changed = False
    for _ in range(500):
        step = (
            _rw_arrows(out)
            or _rw_brackets(out)
            or _rw_similar_to(out)
            or _rw_intdiv(out)
            or _rw_varchar_cast(out)
            or _rw_fn_aliases(out)
            or _rw_fn_complex(out)
            or _rw_struct_literal(out)
        )
        if step is None:
            break
        out, changed = step, True
    return out if changed else None


# --- DuckDB function-name aliases (round 9) ----------------------------
# DuckDB scalar/list/date function names Spark's registry lacks, mapped
# to the Spark built-in with IDENTICAL argument order and semantics
# (each pair probed on both engines; reference src/function/scalar/,
# test/sql/function/).  Names Spark already resolves (contains, len on
# strings, string_agg, date_part, ...) are never touched.

_FN_ALIASES = {
    "string_split_regex": "split",
    "regexp_matches": "regexp_like",
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "array_length": "size",
    "list_length": "size",
    "list_sort": "array_sort",
    "list_distinct": "array_distinct",
    "list_append": "array_append",
    "starts_with": "startswith",
    "ends_with": "endswith",
    "epoch_ms": "unix_millis",
    "list_max": "array_max",
    "list_min": "array_min",
    "array_to_string": "array_join",
    "list_reverse": "reverse",
    "list_transform": "transform",
    "list_filter": "filter",
    "list_position": "array_position",
    "list_indexof": "array_position",
    # one-argument form; DuckDB's recursive := / max_depth := options
    # have no Spark twin
    "unnest": "explode",
}
_FN_ALIAS_RE = re.compile(
    r"\b(" + "|".join(_FN_ALIASES) + r")\s*\(", re.I
)
_FN_COMPLEX_RE = re.compile(
    r"\b(string_split|list_prepend|epoch|date_diff|datediff|strftime"
    r"|strptime|list_unique)\s*\(",
    re.I,
)
# cheap pre-probe for rewrite_expressions' early exit
_FN_PROBE = (
    r"\b(?:"
    + "|".join(list(_FN_ALIASES) + [
        "string_split", "list_prepend", "epoch", "date_diff", "datediff",
        "strftime", "strptime", "list_unique",
    ])
    + r")\s*\("
)

# strftime -> java.time pattern (literal formats only; probed on both
# engines over the shared subset)
_STRF_MAP = {
    "a": "EEE", "A": "EEEE", "b": "MMM", "B": "MMMM", "d": "dd",
    "f": "SSSSSS", "g": "SSS", "H": "HH", "I": "hh", "j": "DDD",
    "m": "MM", "M": "mm", "p": "a", "S": "ss", "y": "yy", "Y": "yyyy",
}
_STRF_MINIMAL = {"d": "d", "H": "H", "m": "M", "M": "m", "S": "s"}

# DuckDB's date_diff counts UNIT-BOUNDARY crossings (probed:
# datediff('month', '1995-01-31', '1995-02-01') = 1), not complete
# units like Spark's timestampdiff — each unit maps to an explicit
# boundary-count expression.
_DATEDIFF_UNITS = {
    "year": "(year({b}) - year({a}))",
    "quarter": "((year({b}) - year({a})) * 4 + (quarter({b}) - quarter({a})))",
    "month": "((year({b}) - year({a})) * 12 + (month({b}) - month({a})))",
    "week": "(datediff(date_trunc('WEEK', {b}), date_trunc('WEEK', {a})) div 7)",
    "day": "datediff(CAST({b} AS DATE), CAST({a} AS DATE))",
    "hour": "((unix_timestamp(date_trunc('HOUR', {b})) - unix_timestamp(date_trunc('HOUR', {a}))) div 3600)",
    "minute": "((unix_timestamp(date_trunc('MINUTE', {b})) - unix_timestamp(date_trunc('MINUTE', {a}))) div 60)",
    "second": "(unix_timestamp(date_trunc('SECOND', {b})) - unix_timestamp(date_trunc('SECOND', {a})))",
}


def _strf_to_java(fmt: str) -> str | None:
    """%-directive format -> java.time pattern; None when the format
    uses a directive outside the verified subset."""
    if "'" in fmt:
        return None
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            txt = "".join(lit)
            if re.search(r"[A-Za-z]", txt):
                out.append("'" + txt + "'")
            else:
                out.append(txt)
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            c = fmt[i + 1]
            if c == "%":
                lit.append("%")
                i += 2
                continue
            if c == "-" and i + 2 < len(fmt) and fmt[i + 2] in _STRF_MINIMAL:
                flush()
                out.append(_STRF_MINIMAL[fmt[i + 2]])
                i += 3
                continue
            if c in _STRF_MAP:
                flush()
                out.append(_STRF_MAP[c])
                i += 2
                continue
            return None
        lit.append(fmt[i])
        i += 1
    flush()
    return "".join(out)


def _call_args(body: str) -> list[str]:
    """A call's argument texts, stripped (none for an empty body)."""
    if not body.strip():
        return []
    return [a.strip() for a in Lexed(body).split_toplevel()]


def _str_lit(text: str) -> str | None:
    """Contents of a plain string literal, else None."""
    t = text.strip()
    if len(t) >= 2 and t[0] == "'" and t[-1] == "'":
        return t[1:-1].replace("''", "'")
    return None


_JAVA_RE_META = set("\\.[]{}()*+?^$|")


def _rw_fn_aliases(sql: str) -> str | None:
    m = _FN_ALIAS_RE.search(Lexed(sql).masked)
    if m is None:
        return None
    return sql[: m.start(1)] + _FN_ALIASES[m.group(1).lower()] + sql[m.end(1) :]


def _rw_fn_complex(sql: str) -> str | None:
    """Arg-aware function rewrites: string_split (literal-separator
    regex escape), list_prepend (argument swap), epoch (double cast),
    date_diff/datediff 3-arg (boundary count), strftime/strptime
    (format translation), list_unique (distinct non-null count)."""
    lx = Lexed(sql)
    for m in _FN_COMPLEX_RE.finditer(lx.masked):
        name = m.group(1).lower()
        close = lx.partner(m.end() - 1) + 1
        args = _call_args(sql[m.end() : close - 1])
        repl: str | None = None
        if name == "string_split" and len(args) == 2:
            sep = _str_lit(args[1])
            if sep is None:
                continue  # non-literal separator: regex vs literal split
            esc = "".join(
                ("\\\\" + c if c in _JAVA_RE_META else c) for c in sep
            )
            repl = f"split({args[0]}, '{esc}')"
        elif name == "list_prepend" and len(args) == 2:
            repl = f"array_prepend({args[1]}, {args[0]})"
        elif name == "epoch" and len(args) == 1:
            # documented: DuckDB keeps fractional seconds, unix_timestamp
            # truncates to the second
            repl = f"CAST(unix_timestamp({args[0]}) AS DOUBLE)"
        elif name in ("date_diff", "datediff") and len(args) == 3:
            unit = _str_lit(args[0])
            tmpl = _DATEDIFF_UNITS.get((unit or "").lower())
            if tmpl is None:
                continue  # 2-arg Spark datediff / unknown unit: leave
            repl = "CAST(" + tmpl.format(a=args[1], b=args[2]) + " AS BIGINT)"
        elif name in ("strftime", "strptime") and len(args) == 2:
            fmt = _str_lit(args[1])
            java = _strf_to_java(fmt) if fmt is not None else None
            if java is None:
                continue
            fn = "date_format" if name == "strftime" else "to_timestamp"
            repl = f"{fn}({args[0]}, '{java.replace(chr(39), chr(39) * 2)}')"
        elif name == "list_unique" and len(args) == 1:
            repl = (
                f"size(array_distinct(filter({args[0]}, "
                "x__lu -> x__lu IS NOT NULL)))"
            )
        if repl is not None:
            return sql[: m.start()] + repl + sql[close:]
    return None


def _rw_struct_literal(sql: str) -> str | None:
    """One struct-literal rewrite (leftmost): DuckDB's ``{'k': expr,
    ...}`` -> ``named_struct('k', expr, ...)`` (reference
    src/parser/transform/expression/transform_constant.cpp struct
    syntax; probed: field access ``.k`` and ``['k']`` then behave
    identically in both engines).  ``MAP {...}`` literals are left
    untouched (DuckDB map subscript returns a LIST — no faithful Spark
    equivalent; Spark fails loudly on the brace)."""
    lx = Lexed(sql)
    for m in re.finditer(r"\{", lx.masked):
        i = m.start()
        prev = re.search(r"(\w+)\s*$", sql[:i])
        if prev and prev.group(1).upper() == "MAP":
            continue
        close = lx.partner(i) + 1
        body = sql[i + 1 : close - 1]
        pairs: list[str] = []
        ok = True
        for part in _call_args(body):
            colon = _slice_colon(part)
            if colon < 0:
                ok = False
                break
            key_txt, val = part[:colon].strip(), part[colon + 1 :].strip()
            key = _str_lit(key_txt)
            if key is None:
                if not re.fullmatch(r"[A-Za-z_]\w*", key_txt):
                    ok = False
                    break
                key = key_txt
            pairs.append(f"'{key}'")
            pairs.append(val)
        if not ok or not pairs:
            continue
        return sql[:i] + f"named_struct({', '.join(pairs)})" + sql[close:]
    return None

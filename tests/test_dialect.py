"""Textual dialect rewriters (dialect.py): scanner edge cases that the
Spark-level grids in test_engine.py don't isolate — comments, nested
parens, quoted identifiers, marker reordering arithmetic.  Pure Python,
no session."""

from __future__ import annotations

import pytest

from data_chunk_compaction_in_duckdb_spark.dialect import (
    Lexed,
    rewrite_qualify,
    rewrite_star_modifiers,
)
from data_chunk_compaction_in_duckdb_spark.storage.dmlsql import parse_update


def test_qualify_none_when_absent_or_nested():
    assert rewrite_qualify("SELECT 1") is None
    assert rewrite_qualify("SELECT 'QUALIFY' AS s") is None
    assert rewrite_qualify('SELECT 1 AS "QUALIFY"') is None
    assert rewrite_qualify("SELECT 1 -- QUALIFY in comment") is None
    assert rewrite_qualify("SELECT 1 /* QUALIFY */ AS a") is None
    # inside a subquery: not top-level, untouched
    assert (
        rewrite_qualify(
            "SELECT * FROM (SELECT a, row_number() OVER (ORDER BY a) rn "
            "FROM t) x WHERE rn = 1"
        )
        is None
    )


def test_qualify_splits_pred_and_tail():
    sql = (
        "SELECT a, rank() OVER (ORDER BY a) rnk FROM t "
        "QUALIFY rnk <= 2 ORDER BY a LIMIT 5"
    )
    rewritten, col, _ = rewrite_qualify(sql)
    assert col == "__qualify"
    assert "ORDER BY a\nLIMIT" in rewritten or "ORDER BY a LIMIT" in rewritten
    # the predicate must not swallow the tail
    assert "(" + "(rank() OVER (ORDER BY a)) <= 2" + ")" in rewritten.replace(
        "  ", " "
    )


def test_qualify_pred_with_nested_parens_and_commas():
    sql = (
        "SELECT a FROM t QUALIFY row_number() OVER "
        "(PARTITION BY b, c ORDER BY a, d) IN (1, 2)"
    )
    rewritten, _, _ = rewrite_qualify(sql)
    assert "IN (1, 2)" in rewritten and rewritten.count("__qualify") == 2


def test_qualify_marker_reorder_inject_form():
    sql = (
        "SELECT a + ? AS x FROM t WHERE b = ? "
        "QUALIFY row_number() OVER (ORDER BY a) <= ? LIMIT ?"
    )
    rewritten, _, reorder = rewrite_qualify(sql)
    # original arg order: sel(1), rest(2), pred(3), tail(4)
    # rewritten text order: sel, pred, rest, tail
    assert reorder([1, 2, 3, 4]) == [1, 3, 2, 4]
    assert Lexed(rewritten).masked.count("?") == 4
    with pytest.raises(ValueError, match="positional args"):
        reorder([1])


def test_qualify_distinct_hoists_dedup_after_filter():
    sql = (
        "SELECT DISTINCT a, rank() OVER (ORDER BY a) rnk FROM t "
        "QUALIFY rnk = 1"
    )
    rewritten, _, _ = rewrite_qualify(sql)
    # DuckDB clause order is WINDOW -> QUALIFY -> DISTINCT: the filter
    # runs FIRST, so DISTINCT is hoisted OUT of the head and re-applied
    # on the outer select (test/sql/qualify/test_qualify.test)
    assert rewritten.lstrip().upper().startswith("SELECT DISTINCT *")
    assert "SELECT DISTINCT a" not in rewritten
    assert "WHERE __qualify" in rewritten


def test_qualify_distinct_on_rejected_loudly():
    with pytest.raises(NotImplementedError, match="DISTINCT ON"):
        rewrite_qualify(
            "SELECT DISTINCT ON (a) a, b FROM t "
            "QUALIFY row_number() OVER (ORDER BY b) = 1"
        )


def test_qualify_alias_substitution_skips_string_literals():
    sql = (
        "SELECT c, row_number() OVER (ORDER BY c) AS rn FROM t "
        "QUALIFY rn = 1 AND c NOT LIKE '%rn%'"
    )
    rewritten, _, _ = rewrite_qualify(sql)
    # the alias-shaped text INSIDE the literal must survive untouched
    assert "'%rn%'" in rewritten
    assert "'%(row_number() OVER (ORDER BY c))%'" not in rewritten


def test_qualify_alias_substitution_skips_dot_qualified():
    # relation-scoped references (v.rn) must stay intact: substituting
    # either side of the dot yields invalid SQL (v.(expr)) or rewrites
    # the qualifier itself
    sql = (
        "SELECT n, row_number() OVER (ORDER BY n) AS rn FROM v "
        "QUALIFY v.rn < 3 AND rn >= 1"
    )
    rewritten, _, _ = rewrite_qualify(sql)
    assert "v.rn < 3" in rewritten
    assert "v.(" not in rewritten
    # the bare reference IS still substituted
    assert "(row_number() OVER (ORDER BY n)) >= 1" in rewritten


def test_qualify_alias_substitution_is_simultaneous():
    # swapped aliases: sequential re.sub would cascade (QUALIFY a ->
    # substitute a's expr b -> then b's expr rewrites it AGAIN)
    sql = (
        "SELECT b AS a, a AS b, row_number() OVER (ORDER BY a) AS rn "
        "FROM t QUALIFY a > 0 AND rn = 1"
    )
    rewritten, _, _ = rewrite_qualify(sql)
    # `a` in the predicate resolves to (b) exactly once, never to (a)
    assert "(b) > 0" in rewritten
    assert "((a)) > 0" not in rewritten and "(a) > 0" not in rewritten


def test_star_modifiers_rewrites_and_non_matches():
    assert rewrite_star_modifiers("SELECT a * b FROM t") is None
    assert rewrite_star_modifiers("SELECT count(*) FROM t") is None
    assert rewrite_star_modifiers("SELECT '* EXCLUDE (x)' AS s") is None
    # multiplication by a column literally named exclude/replace is a
    # binary op in DuckDB, never a star modifier (position rule: the
    # token before the star is an identifier / closing paren)
    assert rewrite_star_modifiers("SELECT a * exclude FROM t") is None
    assert rewrite_star_modifiers("SELECT f(a) * replace FROM t") is None
    assert rewrite_star_modifiers("SELECT 2 * exclude FROM t") is None
    out = rewrite_star_modifiers("SELECT * EXCLUDE (a) FROM t")
    assert out == "SELECT * EXCEPT (a) FROM t"
    out = rewrite_star_modifiers("SELECT t.* EXCLUDE a FROM t")
    assert out == "SELECT t.* EXCEPT (a) FROM t"
    out = rewrite_star_modifiers(
        "SELECT * REPLACE (f(x, y) AS x, g(z) AS z) FROM t"
    )
    assert out == "SELECT * EXCEPT (x, z), f(x, y) AS x, g(z) AS z FROM t"
    # combined, and inside a subquery
    out = rewrite_star_modifiers(
        "SELECT c FROM (SELECT * EXCLUDE (a) REPLACE (b+1 AS b) FROM t) q"
    )
    assert "EXCEPT (a, b), b+1 AS b" in out
    # two independent stars in one statement
    out = rewrite_star_modifiers(
        "SELECT * EXCLUDE (a) FROM t UNION ALL SELECT * EXCLUDE (b) FROM u"
    )
    assert out.count("EXCEPT") == 2


def test_star_modifier_malformed_replace_raises():
    with pytest.raises(ValueError, match="expr AS col"):
        rewrite_star_modifiers("SELECT * REPLACE (x + 1) FROM t")


def test_qualify_requires_a_window_function():
    # DuckDB binder rule (probed): plain boolean QUALIFY must error,
    # never silently become a filter
    with pytest.raises(ValueError, match="window function"):
        rewrite_qualify("SELECT a FROM t QUALIFY a > 5")
    # a window in the head select list satisfies the rule
    assert rewrite_qualify(
        "SELECT a, rank() OVER (ORDER BY a) rnk FROM t QUALIFY rnk = 1"
    ) is not None
    # ... as does one in the predicate
    assert rewrite_qualify(
        "SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1"
    ) is not None
    # windows nested inside CAST/function parens still count
    assert rewrite_qualify(
        "SELECT CAST(rank() OVER (ORDER BY a) AS INT) AS rnk FROM t "
        "QUALIFY rnk <= 2"
    ) is not None
    # the keyword inside a string literal does not satisfy the rule
    with pytest.raises(ValueError, match="window function"):
        rewrite_qualify("SELECT a, 'OVER' AS s FROM t QUALIFY a > 5")


# --- round-9: expression-grammar rewrites (rewrite_expressions) -------


def _rw(sql):
    from data_chunk_compaction_in_duckdb_spark.dialect import (
        rewrite_expressions,
    )

    return rewrite_expressions(sql)


def test_expr_list_literals():
    assert _rw("SELECT [1, 2] AS l") == "SELECT array(1, 2) AS l"
    assert _rw("SELECT ARRAY[1,2] AS l") == "SELECT array(1,2) AS l"
    assert (
        _rw("SELECT [[1],[2,3]] AS l")
        == "SELECT array(array(1),array(2,3)) AS l"
    )
    assert _rw("SELECT [] AS l") == "SELECT array() AS l"


def test_expr_index_is_one_based_element_at():
    # try_element_at: 1-based, negatives from the end, NULL out of
    # range (probed = DuckDB; element_at raises under ANSI), index 0
    # folded to a NULL index (DuckDB returns NULL, Spark errors on 0)
    assert (
        _rw("SELECT arr[2] FROM t")
        == "SELECT try_element_at(arr, 2) FROM t"
    )
    assert (
        _rw("SELECT f(x)[1] FROM t")
        == "SELECT try_element_at(f(x), 1) FROM t"
    )
    assert "CAST(NULL AS INT)" in _rw("SELECT arr[0] FROM t")
    # string-keyed subscripts (map/struct) are native in both engines
    assert _rw("SELECT m['k'] FROM t") is None
    # type brackets are not subscripts: they become ARRAY<T>
    assert _rw("SELECT CAST(x AS INT[]) FROM t") == (
        "SELECT CAST(x AS ARRAY<INT>) FROM t"
    )
    assert _rw("SELECT x::INT[3] FROM t") == "SELECT x::ARRAY<INT> FROM t"


def test_expr_slice_string_vs_list():
    out = _rw("SELECT name[2:4] FROM t")
    assert out == "SELECT substring(name, 2, (4) - (2) + 1) FROM t"
    out = _rw("SELECT [10,20,30][1:2] AS x")
    assert "slice(" in out and "substring" not in out


def test_expr_json_arrows():
    assert (
        _rw("SELECT j ->> 'a' FROM t")
        == "SELECT get_json_object(j, '$.a') FROM t"
    )
    assert (
        _rw("SELECT j -> 'a' FROM t")
        == "SELECT to_json(variant_get(parse_json(j), '$.a')) FROM t"
    )
    # chained arrows compose left-to-right
    assert _rw("SELECT j -> 'a' ->> 'b' FROM t") == (
        "SELECT get_json_object(to_json(variant_get(parse_json(j), "
        "'$.a')), '$.b') FROM t"
    )
    # path and index right sides
    assert "'$.a.b'" in _rw("SELECT j ->> '$.a.b' FROM t")
    assert "'$[1]'" in _rw("SELECT j -> 1 FROM t")


def test_expr_lambda_arrows_untouched():
    assert _rw("SELECT transform(a, x -> x + 1) FROM t") is None
    assert _rw("SELECT transform(a, x -> 1) FROM t") is None
    assert _rw("SELECT reduce(a, 0, (acc, x) -> 1) FROM t") is None


def test_expr_similar_to():
    assert (
        _rw("SELECT s SIMILAR TO 'a.*' FROM t")
        == "SELECT s RLIKE '^(?:a.*)$' FROM t"
    )
    assert (
        _rw("SELECT s NOT SIMILAR TO 'a.c' FROM t")
        == "SELECT s NOT RLIKE '^(?:a.c)$' FROM t"
    )
    assert "concat('^(?:', other, ')$')" in _rw(
        "SELECT s SIMILAR TO other FROM t"
    )


def test_expr_intdiv():
    assert _rw("SELECT 7 // 2 AS d") == "SELECT 7  div  2 AS d"


def test_expr_varchar_cast_is_string():
    assert _rw("SELECT CAST(x AS VARCHAR) FROM t") == (
        "SELECT CAST(x AS STRING) FROM t"
    )
    assert _rw("SELECT TRY_CAST(f(x, 2) AS varchar), y::VARCHAR FROM t") == (
        "SELECT TRY_CAST(f(x, 2) AS STRING), y::STRING FROM t"
    )
    # a sized VARCHAR, a DDL column type, a column alias and a literal
    # are left alone
    assert _rw("SELECT CAST(x AS VARCHAR(30)) FROM t") is None
    assert _rw("CREATE TABLE t (a VARCHAR, b INT)") is None
    assert _rw("SELECT x AS varchar FROM t") is None
    assert _rw("SELECT 'CAST(x AS VARCHAR)' AS s") is None


def test_expr_literals_are_data():
    assert _rw("SELECT '-> [1:2] // SIMILAR TO' AS lit") is None
    assert _rw('SELECT "a//b" FROM t') is None


def test_fn_aliases():
    assert (
        _rw("SELECT list_contains(l, 2) FROM t")
        == "SELECT array_contains(l, 2) FROM t"
    )
    assert (
        _rw("SELECT starts_with(s, 'A') FROM t")
        == "SELECT startswith(s, 'A') FROM t"
    )
    assert (
        _rw("SELECT unnest([0, 1, 2, 3]) AS i")
        == "SELECT explode(array(0, 1, 2, 3)) AS i"
    )
    # names Spark already resolves are never touched
    assert _rw("SELECT contains(s, 'b'), date_part('year', d) FROM t") is None
    # function name inside a literal is data
    assert _rw("SELECT 'list_contains(x)' AS s") is None


def test_fn_complex_rewrites():
    assert _rw("SELECT string_split(s, '.')[2] FROM t") == (
        "SELECT try_element_at(split(s, '\\\\.'), 2) FROM t"
    )
    assert _rw("SELECT list_prepend(0, l) FROM t") == (
        "SELECT array_prepend(l, 0) FROM t"
    )
    assert "CAST(unix_timestamp(ts) AS DOUBLE)" in _rw(
        "SELECT epoch(ts) FROM t"
    )
    # date_diff = boundary count, not complete units
    out = _rw("SELECT date_diff('month', d1, d2) FROM t")
    assert "(year(d2) - year(d1)) * 12" in out
    # 2-arg Spark datediff stays native
    assert _rw("SELECT datediff(d2, d1) FROM t") is None


def test_fn_strftime_translation():
    assert _rw("SELECT strftime(d, '%Y-%m-%d %H:%M:%S') FROM t") == (
        "SELECT date_format(d, 'yyyy-MM-dd HH:mm:ss') FROM t"
    )
    assert _rw("SELECT strptime(s, '%Y/%m') FROM t") == (
        "SELECT to_timestamp(s, 'yyyy/MM') FROM t"
    )
    # unknown directive: left alone (loud failure beats silent wrong)
    assert _rw("SELECT strftime(d, '%V') FROM t") is None


def test_struct_literals():
    assert (
        _rw("SELECT {'a': 1, 'b': 'x'} AS s")
        == "SELECT named_struct('a', 1, 'b', 'x') AS s"
    )
    assert (
        _rw("SELECT ({'a': 1, 'b': {'c': 2}}).b.c AS v")
        == "SELECT (named_struct('a', 1, 'b', named_struct('c', 2))).b.c AS v"
    )
    # MAP literals have no faithful Spark twin: left untouched (loud)
    assert _rw("SELECT MAP {'k': 5} AS m") is None


def test_review_r9_struct_edges():
    # subscript/field access ON a struct literal (postfix '}' operand)
    assert _rw("SELECT {'a': 1}['a']") == "SELECT named_struct('a', 1)['a']"
    assert _rw("SELECT {'a': [1, 2], 'b': 3}.a[1]") == (
        "SELECT try_element_at(named_struct('a', array(1, 2), 'b', 3).a, 1)"
    )
    # nested struct with a MULTI-field inner struct (brace-aware split)
    assert _rw("SELECT {'a': 1, 'b': {'c': 1, 'd': 2}}.b.d") == (
        "SELECT named_struct('a', 1, 'b', named_struct('c', 1, 'd', 2)).b.d"
    )


def test_review_r9_strftime_literal_letters():
    # literal letters quote for java.time AND double for the SQL string
    assert _rw("SELECT strftime(ts, '%Y-%m-%dT%H') FROM t") == (
        "SELECT date_format(ts, 'yyyy-MM-dd''T''HH') FROM t"
    )


# --- one lexical pass: texts where the old per-function scanners
# disagreed about what counts as quoted text

_LEXER_CASES = [
    (
        parse_update,
        "UPDATE t SET a = 1 /* x, y */ WHERE id = 1",
        ("t", {"a": "1 /* x, y */"}, "id = 1", None),
    ),
    (
        parse_update,
        'UPDATE t SET "where" = 1 WHERE id = 1',
        ("t", {"where": "1"}, "id = 1", None),
    ),
    (
        parse_update,
        "UPDATE t SET a = 1 -- no where here\n WHERE id = 2",
        ("t", {"a": "1 -- no where here"}, "id = 2", None),
    ),
    (
        rewrite_star_modifiers,
        'SELECT * EXCLUDE ("a)b", c) FROM t',
        'SELECT * EXCEPT ("a)b", c) FROM t',
    ),
    (
        _rw,
        "SELECT [1, /* ] */ 2] AS x",
        "SELECT array(1, /* ] */ 2) AS x",
    ),
]


@pytest.mark.parametrize("fn,sql,want", _LEXER_CASES)
def test_one_lexical_rule(fn, sql, want):
    assert fn(sql) == want


def test_lexed_spans_mask_and_brackets():
    sql = "SELECT 'it''s', \"a(b\" -- c)\n, f([1, (2)], '}') /* ( */"
    lx = Lexed(sql)
    assert [sql[a:b] for a, b in lx.spans] == [
        "'it''s'", '"a(b"', "-- c)", "'}'", "/* ( */"
    ]
    assert len(lx.masked) == len(sql) and "'" not in lx.masked
    f = sql.index("f(") + 1
    assert sql[lx.partner(f)] == ")" and lx.partner(lx.partner(f)) == f
    assert lx.enclosing_call(sql.index("[1")) == "f"
    assert [p.strip() for p in lx.split_toplevel()] == [
        "SELECT 'it''s'", '"a(b" -- c)', "f([1, (2)], '}') /* ( */"
    ]

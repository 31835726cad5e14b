"""Engine-portable deterministic hashing.

Spark's xxhash64/hash and DuckDB's hash() disagree, so oracle-checked
hash-based operators (minhash, simhash, LSH) need a hash both engines
compute identically.  md5 is bit-identical everywhere; these helpers
derive (a) lexicographic md5 strings for min-hashing and (b) a 32-bit
integer from the first 8 md5 hex digits, built with the same digit
arithmetic on both sides.

The Spark expressions are pure built-ins (md5/substring/instr/aggregate)
— JVM-side, codegen-friendly, no Python.  At 100 TB scale md5 is ~2×
slower than xxhash64; the price buys oracle comparability, and no
operator offers an xxhash64 variant.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash32_expr(inner_sql: str, key: str = "") -> Column:
    """Portable 32-bit hash as a Spark SQL expression over `inner_sql`
    (a SQL fragment naming input columns)."""
    md5e = f"md5(concat('{key}:', {inner_sql}))" if key != "" else f"md5({inner_sql})"
    return F.expr(
        "aggregate(transform(sequence(1, 8), i -> "
        f"(instr('0123456789abcdef', substring({md5e}, i, 1)) - 1)"
        " * shiftleft(1L, (8 - i) * 4)), 0L, (acc, x) -> acc + x)"
    )


def hash32_sql(inner_sql: str, key: str = "") -> str:
    """DuckDB SQL computing the identical 32-bit hash."""
    md5e = f"md5('{key}:' || {inner_sql})" if key != "" else f"md5({inner_sql})"
    return (
        "list_aggregate(list_transform(generate_series(1, 8), i -> "
        f"(strpos('0123456789abcdef', substr({md5e}, i, 1)) - 1)"
        " * CAST(POWER(16, 8 - i) AS BIGINT)), 'sum')"
    )

"""IPv4 address functions — the reference's inet extension surface
(extension/inet: INET type, host(), netmask containment; test/sql/inet)
as exact-integer column expressions.

The INET type maps to its canonical scalar encoding (uint32 carried in
a BIGINT) rather than a custom Spark type — the same modeling choice as
TIME-as-microseconds (`type_time_micros`): values stay in whole-stage
codegen and every operation is integer arithmetic, identical in any SQL
engine, so oracles replay bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def inet_aton(ip: Column | str) -> Column:
    """Dotted-quad string → uint32-in-BIGINT (NULL for malformed)."""
    c = F.col(ip) if isinstance(ip, str) else ip
    parts = F.split(c, r"\.")
    valid = (F.size(parts) == 4) & F.forall(
        parts, lambda p: p.rlike("^[0-9]{1,3}$") & (p.cast("long") <= 255)
    )
    val = (
        parts[0].cast("long") * 16777216
        + parts[1].cast("long") * 65536
        + parts[2].cast("long") * 256
        + parts[3].cast("long")
    )
    return F.when(valid, val)


def inet_ntoa(n: Column | str) -> Column:
    """uint32-in-BIGINT → dotted-quad string."""
    c = F.col(n) if isinstance(n, str) else n
    return F.concat_ws(
        ".",
        ((c / 16777216).cast("long") % 256).cast("string"),
        ((c / 65536).cast("long") % 256).cast("string"),
        ((c / 256).cast("long") % 256).cast("string"),
        (c % 256).cast("string"),
    )


def inet_contains(cidr: str, ip: Column | str) -> Column:
    """True when ip (dotted-quad column) falls inside 'a.b.c.d/len' —
    the reference's `<<=` containment operator."""
    base_str, plen_s = cidr.split("/")
    plen = int(plen_s)
    octets = [int(x) for x in base_str.split(".")]
    base = (
        octets[0] * 16777216 + octets[1] * 65536 + octets[2] * 256 + octets[3]
    )
    block = 2 ** (32 - plen)
    base -= base % block  # normalize a non-aligned CIDR base
    addr = inet_aton(ip)
    return (addr >= base) & (addr < base + block)

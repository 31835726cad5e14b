"""DuckDB settings surface: SET / RESET / PRAGMA, ``current_setting()``
and the ``duckdb_settings()`` catalog readback.

Reference: ``src/main/settings/settings.cpp`` (one *Setting class per
knob with SetGlobal/ResetGlobal/GetSetting), ``src/main/config.cpp``
(the registry + "unrecognized configuration parameter" error) and
``test/sql/settings/`` (SET/RESET/readback grammar).  Every rendered
value and error shape below is probed against DuckDB 1.0 on this box,
so the ``introspect_settings`` oracle compares byte-identical text.

The Spark mapping per setting:

============================  =========================================
``threads``                   ``spark.sql.shuffle.partitions`` (the
                              runtime-settable parallelism knob; task
                              slots are submit-time on a cluster)
``TimeZone``                  ``spark.sql.session.timeZone`` (same ICU
                              zone ids both engines)
``memory_limit``/``max_memory``  stored engine-level annotation with
                              DuckDB's exact human rendering (Spark
                              executor memory is submit-time — the
                              value round-trips but does not resize a
                              live JVM; documented no-op)
``default_collation``         stored annotation; Spark 4 expresses
                              collation per expression (``COLLATE``) —
                              this build has no session-default conf,
                              so the value is readback-only and the
                              collate_* machinery is the semantic path
``enable_progress_bar``       stored annotation (console progress is a
                              static conf in Spark)
``enable_optimizer``          ``spark.sql.adaptive.enabled`` (the
                              runtime-togglable optimizer layer)
============================  =========================================

Memory values parse with DuckDB's grammar (``KB/MB/GB/TB`` decimal,
``KiB/MiB/GiB/TiB`` binary, bare ``b`` bytes, case-insensitive, floats
allowed) and render with DuckDB's formatter: bytes below 1 KiB print as
``N bytes``/``1 byte``; larger values pick the largest binary unit at
or above 1.0 and TRUNCATE to one decimal (probed: 2 GB -> ``1.8 GiB``,
1 GB -> ``953.6 MiB``, 10 KiB -> ``10.0 KiB``).  The unset default is
DuckDB's: 80% of physical RAM — computed from the same sysconf values,
so even the default readback matches the oracle on the same machine.
"""

from __future__ import annotations

import os
import re
from typing import Any

# ----------------------------------------------------------------- memory

_MEM_UNITS = {
    "b": 1,
    "kb": 1000,
    "mb": 1000**2,
    "gb": 1000**3,
    "tb": 1000**4,
    "kib": 1024,
    "mib": 1024**2,
    "gib": 1024**3,
    "tib": 1024**4,
}

_MEM_RE = re.compile(r"^\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)\s*$")


def parse_memory(text: str) -> int:
    """'2GB' -> 2_000_000_000 (DuckDB's unit grammar; raises DuckDB's
    parser-error shape on unknown units or a missing unit)."""
    m = _MEM_RE.match(str(text))
    unit = m.group(2).lower() if m else None
    if m is None or unit not in _MEM_UNITS:
        raise ValueError(
            "Parser Error: Unknown unit for memory_limit: "
            "(expected: KB, MB, GB, TB for 1000^i units or "
            "KiB, MiB, GiB, TiB for 1024^i units)"
        )
    return int(float(m.group(1)) * _MEM_UNITS[unit])


def render_memory(n_bytes: int) -> str:
    """DuckDB's human formatter (probed): binary units, one TRUNCATED
    decimal; below 1 KiB plain bytes with singular handling."""
    if n_bytes < 1024:
        return f"{n_bytes} byte" + ("" if n_bytes == 1 else "s")
    for unit, size in (
        ("TiB", 1024**4),
        ("GiB", 1024**3),
        ("MiB", 1024**2),
        ("KiB", 1024),
    ):
        if n_bytes >= size:
            tenths = (n_bytes * 10) // size  # truncate, not round
            return f"{tenths // 10}.{tenths % 10} {unit}"
    raise AssertionError("unreachable")


def default_memory_limit_bytes() -> int:
    """DuckDB 1.0's default memory_limit: 80% of physical RAM."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return int(total * 0.8)


# ------------------------------------------------------------ the registry
#
# Each spec: (input_type, scope, description) — description text is
# DuckDB 1.0's verbatim (duckdb_settings() readback must hash-match).

SETTING_SPECS: dict[str, tuple[str, str, str]] = {
    "threads": (
        "BIGINT",
        "GLOBAL",
        "The number of total threads used by the system.",
    ),
    "memory_limit": (
        "VARCHAR",
        "GLOBAL",
        "The maximum memory of the system (e.g. 1GB)",
    ),
    "TimeZone": ("VARCHAR", "GLOBAL", "The current time zone"),
    "default_collation": (
        "VARCHAR",
        "GLOBAL",
        "The collation setting used when none is specified",
    ),
    "enable_progress_bar": (
        "BOOLEAN",
        "LOCAL",
        "Enables the progress bar, printing progress to the terminal "
        "for long queries",
    ),
}

# names DuckDB treats as aliases of another setting
SETTING_ALIASES = {"max_memory": "memory_limit", "timezone": "TimeZone"}


def canonical_name(name: str) -> str:
    """Resolve aliases and DuckDB's case-insensitive lookup to the
    canonical registry key; raise DuckDB's catalog error otherwise."""
    if name in SETTING_SPECS:
        return name
    low = name.lower()
    if low in SETTING_ALIASES:
        return SETTING_ALIASES[low]
    for k in SETTING_SPECS:
        if k.lower() == low:
            return k
    raise ValueError(
        f'Catalog Error: unrecognized configuration parameter "{name}"'
    )


class SettingsStore:
    """Per-engine settings state + the Spark conf bridge.

    ``spark`` confs hold the two live knobs (threads, TimeZone); the
    rest live in ``self.values``.  ``initial`` snapshots the session
    confs at construction so RESET restores the pre-engine state (the
    DuckDB analog of restoring the build-time default)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.initial = {
            "threads": spark.conf.get("spark.sql.shuffle.partitions"),
            "TimeZone": spark.conf.get("spark.sql.session.timeZone"),
        }
        self.values: dict[str, Any] = {
            "memory_limit": default_memory_limit_bytes(),
            "default_collation": "",
            "enable_progress_bar": False,
        }

    # -- set / reset -------------------------------------------------

    def set(self, name: str, value: Any) -> None:
        key = canonical_name(name)
        if key == "threads":
            n = int(value)
            if n < 1:
                raise ValueError(
                    "Syntax Error: Must have at least 1 thread!"
                )
            self.spark.conf.set("spark.sql.shuffle.partitions", str(n))
        elif key == "TimeZone":
            self.spark.conf.set(
                "spark.sql.session.timeZone", str(value)
            )
        elif key == "memory_limit":
            self.values[key] = parse_memory(value)
        elif key == "enable_progress_bar":
            if isinstance(value, str):
                v = value.strip().lower()
                if v not in ("true", "false", "1", "0"):
                    raise ValueError(
                        f'Conversion Error: Could not convert string '
                        f"'{value}' to BOOL"
                    )
                value = v in ("true", "1")
            self.values[key] = bool(value)
        else:  # default_collation
            self.values[key] = str(value)

    def reset(self, name: str) -> None:
        key = canonical_name(name)
        if key == "threads":
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", self.initial["threads"]
            )
        elif key == "TimeZone":
            self.spark.conf.set(
                "spark.sql.session.timeZone", self.initial["TimeZone"]
            )
        elif key == "memory_limit":
            self.values[key] = default_memory_limit_bytes()
        elif key == "enable_progress_bar":
            self.values[key] = False
        else:
            self.values[key] = ""

    # -- readback ----------------------------------------------------

    def current(self, name: str) -> Any:
        """Typed value (the ``current_setting()`` scalar)."""
        key = canonical_name(name)
        if key == "threads":
            return int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        if key == "TimeZone":
            return self.spark.conf.get("spark.sql.session.timeZone")
        if key == "memory_limit":
            return render_memory(self.values[key])
        return self.values[key]

    def rendered(self, name: str) -> str:
        """VARCHAR rendering used by duckdb_settings() rows."""
        v = self.current(name)
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    def rows(self):
        """(name, value, description, input_type, scope) per setting,
        name-ordered — the duckdb_settings() projection."""
        out = []
        for name, (ty, scope, desc) in SETTING_SPECS.items():
            out.append((name, self.rendered(name), desc, ty, scope))
        out.sort(key=lambda r: r[0])
        return out


# ------------------------------------------------------------ SQL grammar

SET_RE = re.compile(
    r"^\s*(?:SET|PRAGMA)\s+(?:(SESSION|GLOBAL)\s+)?([A-Za-z_]\w*)\s*"
    r"(?:=|\bTO\b)\s*(.+?)\s*;?\s*$",
    re.I | re.S,
)
RESET_RE = re.compile(
    r"^\s*RESET\s+(?:(SESSION|GLOBAL)\s+)?([A-Za-z_]\w*)\s*;?\s*$", re.I
)
CURRENT_SETTING_RE = re.compile(r"\bcurrent_setting\s*\(", re.I)


def parse_set(sql: str):
    """``SET [SESSION|GLOBAL] name = value`` / ``SET name TO value`` /
    ``PRAGMA name=v`` -> (name, python_value, scope) or None.  Values:
    quoted string, number, or bare boolean/identifier token; ``scope``
    is 'session', 'global' or None (unqualified)."""
    m = SET_RE.match(sql)
    if m is None:
        return None
    scope = m.group(1).lower() if m.group(1) else None
    name, raw = m.group(2), m.group(3).strip()
    if name.lower() in ("variable",):  # not a settings statement
        return None
    if raw.startswith("'") and raw.endswith("'") and len(raw) >= 2:
        return name, raw[1:-1].replace("''", "'"), scope
    if re.fullmatch(r"-?\d+", raw):
        return name, int(raw), scope
    if re.fullmatch(r"-?\d*\.\d+", raw):
        return name, float(raw), scope
    return name, raw, scope  # bare token: true/false/identifier


def parse_reset(sql: str):
    """``RESET [SESSION|GLOBAL] name`` -> (name, scope) or None."""
    m = RESET_RE.match(sql)
    if m is None:
        return None
    return m.group(2), (m.group(1).lower() if m.group(1) else None)


def check_scope(name: str, scope, verb: str) -> None:
    """DuckDB's scope rule (probed): a SESSION-qualified SET/RESET of a
    GLOBAL-scope setting raises 'option "x" cannot be set/reset
    locally'; GLOBAL qualification and LOCAL-scope settings are fine."""
    if scope != "session":
        return
    key = canonical_name(name)
    if SETTING_SPECS[key][1] == "GLOBAL":
        raise ValueError(
            f'Catalog Error: option "{key}" cannot be {verb} locally'
        )

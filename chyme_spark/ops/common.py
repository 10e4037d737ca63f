"""Shared helpers for oracle-deterministic query construction.

Float discipline (SURVEY §2B determinism rules): any aggregate over
floating columns is computed over DECIMAL so the sum is exact and
order-insensitive (a double sum's value depends on partition/merge
order — unacceptable when a hash oracle compares engines), then rounded
and cast back to DOUBLE so both engines return the identical Python
float.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

# scale 4 holds every synthetic money/qty column exactly (2-decimal data)
DEC = "decimal(18,4)"

# input bytes per shuffle partition when a partition count is derived
# from input size (well under the 100 MB-1 GB post-shuffle advisory)
PARTITION_BYTES = 64 << 20


def table_bytes(sf: str, *names: str) -> int | None:
    """On-disk bytes of the named tables under ``sf`` (a partitioned
    table's part files summed), or None when one cannot be read."""
    total = 0
    for name in names:
        src = f"{sf}/{name}.parquet"
        try:
            if os.path.isdir(src):
                total += sum(e.stat().st_size for e in os.scandir(src) if e.is_file())
            else:
                total += os.path.getsize(src)
        except OSError:
            return None
    return total


def dec(col: str | Column) -> Column:
    """Cast to exact decimal for order-insensitive aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def money(agg: Column, scale: int = 2) -> Column:
    """Round a decimal aggregate and surface it as DOUBLE (stable hash)."""
    return F.round(agg, scale).cast("double")


def sql_dec(expr: str) -> str:
    """DuckDB-side mirror of :func:`dec`."""
    return f"CAST({expr} AS DECIMAL(18,4))"


def sql_money(expr: str, scale: int = 2) -> str:
    """DuckDB-side mirror of :func:`money`."""
    return f"CAST(ROUND({expr}, {scale}) AS DOUBLE)"


def ts_str(col: str | Column) -> Column:
    """Render a timestamp as a canonical string (engine-neutral)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


SQL_TS_STR = "strftime({expr}, '%Y-%m-%d %H:%M:%S')"


def sql_ts_str(expr: str) -> str:
    return SQL_TS_STR.format(expr=expr)

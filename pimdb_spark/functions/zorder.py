"""Z-order (Morton) interleaving as pure column expressions.

Multi-dimensional clustering for file skipping: sorting by a Z-order key
gives every parquet file a small bounding box in ALL interleaved
dimensions, so min/max footer statistics prune range filters on any of
them — where a plain sort only prunes its leading column.  This is the
Spark-expression form of the key behind Delta/Iceberg's OPTIMIZE ZORDER
BY; a clustered write range-partitions on it and sorts within partitions.

All bit arithmetic (shifts, masks, or) happens JVM-side on longs — no
UDF — and the identical expressions run in ANSI SQL, so a DuckDB oracle
reproduces keys bit-for-bit (catalog q_zorder_key).

Scale: computing the key is a zero-shuffle projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["spread_bits_16", "zorder_key_2d", "ZORDER_SQL_2D"]

# parallel-prefix bit spreading: x & 0xFFFF -> bits of x at even positions
_SPREAD = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def spread_bits_16(col: Column) -> Column:
    """Spread the low 16 bits of a non-negative long so bit i lands at
    position 2i (even positions) — the building block of a 2-D Morton
    code, as a chain of JVM shift/mask expressions."""
    x = F.col(col) if isinstance(col, str) else col
    x = x.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key_2d(a: Column, b: Column) -> Column:
    """32-bit Morton interleave of two non-negative dimensions (low 16
    bits each): ``a``'s bits at even positions, ``b``'s at odd.  Callers
    normalize dimensions first (e.g. ``F.col("k") % 65536``, or a rank
    for skewed/continuous values)."""
    return spread_bits_16(a).bitwiseOR(F.shiftleft(spread_bits_16(b), 1))


def _spread_sql(expr: str) -> str:
    """The same parallel-prefix spread as ANSI SQL text (for oracles and
    SQL-surface callers)."""
    x = f"({expr} & 65535)"
    for shift, mask in _SPREAD:
        x = f"(({x} | ({x} << {shift})) & {mask})"
    return x


def ZORDER_SQL_2D(a: str, b: str) -> str:
    """SQL text computing zorder_key_2d(a, b) — identical bit math, so
    Spark and DuckDB agree exactly."""
    return f"({_spread_sql(a)} | ({_spread_sql(b)} << 1))"

"""Data-layout operator for scan pruning at scale: the Z-order (Morton)
clustering key.

At 100 TB the dominant cost is the scan; min/max-based skipping
(parquet row groups, Iceberg file stats) only prunes on the column the
data is SORTED by. Z-ordering interleaves the bits of several columns
so a range predicate on ANY of them maps to a bounded set of z-ranges
— the layout trick Delta/Iceberg OPTIMIZE ZORDER applies. Here it is a
pure Catalyst expression (`zorder_key`), so the optimizer sees ordinary
longs; a clustering write range-partitions and sorts by it, and its
files' per-file (a, b) bounding boxes are compact squares instead of
full-width stripes.

The bit-spreading uses the classic magic-mask doubling network —
shift/or/and only, so the SAME arithmetic runs in DuckDB for the
oracle (`zorder_sql`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (shift, mask) doubling network spreading 16 bits to even positions
_SPREAD = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def _spread16(c: Column) -> Column:
    x = c.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key(a: Column, b: Column) -> Column:
    """Interleave the low 16 bits of two non-negative int columns into
    a 32-bit Morton key (a gets even bits, b odd)."""
    return _spread16(a).bitwiseOR(F.shiftleft(_spread16(b), 1))


def zorder_sql(a: str, b: str) -> str:
    """The identical Morton arithmetic as a SQL string (DuckDB oracle
    parity — same shifts, same masks)."""

    def spread(e: str) -> str:
        x = f"({e} & 65535)"
        for shift, mask in _SPREAD:
            x = f"(({x} | ({x} << {shift})) & {mask})"
        return x

    return f"({spread(a)} | ({spread(b)} << 1))"


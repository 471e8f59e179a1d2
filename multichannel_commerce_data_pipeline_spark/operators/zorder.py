"""Z-order (Morton) multi-dimensional clustering for data skipping.

A 100 TB lake scans fast only when most files are never opened. Sorting
the layout by ONE column gives perfect min/max skipping on that column
and none on any other; interleaving the bits of two (or more) columns
into a Morton key and range-partitioning on it gives every interleaved
dimension locality at once — each file's (min, max) footprint becomes a
small rectangle in value space, so a predicate on EITHER column prunes
most files from the listing alone. This is the layout behind
Delta/Iceberg ``OPTIMIZE ZORDER BY``; here it is an explicit,
engine-portable operator: plain integer arithmetic (no bit intrinsics),
identical in DuckDB, so the clustering assignment itself is
oracle-checkable.

Pipeline shape at scale: bucketize each dimension to ``bits``-bit ranks
(fixed-step buckets from collected min/max — a bounded 1-row collect),
compute the Morton key map-side (pure Column, zero shuffle), then
``repartitionByRange`` on the key — ONE range shuffle, the same price
as any global sort, paid once at layout time and amortized over every
subsequent pruned scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bucketize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Fixed-step rank of ``col`` in [0, 2^bits): floor((v-lo)/step)
    clamped to the top bucket. Deterministic given (lo, hi) — the
    caller collects those bounds once (or supplies domain constants);
    identical arithmetic in SQL."""
    n = 1 << bits
    step = (hi - lo) / n
    raw = F.floor((col.cast("double") - F.lit(lo)) / F.lit(step)).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1))


def morton_key(x: Column, y: Column, bits: int) -> Column:
    """Interleave the low ``bits`` bits of two bucket ranks:
    bit b of x lands at position 2b, bit b of y at 2b+1. Expressed as
    Σ_b (floor(x / 2^b) % 2) · 4^b · (1 | 2) — 2·bits pure-arithmetic
    terms, engine-portable (no shift intrinsics), all inside
    whole-stage codegen."""
    out = F.lit(0).cast("long")
    for b in range(bits):
        xb = (F.floor(x / F.lit(1 << b)).cast("long") % 2) * F.lit(4**b)
        yb = (F.floor(y / F.lit(1 << b)).cast("long") % 2) * F.lit(2 * 4**b)
        out = out + xb + yb
    return out


def oracle_morton_key(x_expr: str, y_expr: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(
            f"(CAST(floor(({x_expr}) / {1 << b}) AS BIGINT) % 2) * {4 ** b}"
        )
        terms.append(
            f"(CAST(floor(({y_expr}) / {1 << b}) AS BIGINT) % 2) * {2 * 4 ** b}"
        )
    return "(" + " + ".join(terms) + ")"

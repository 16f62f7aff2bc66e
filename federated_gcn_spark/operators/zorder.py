"""Z-order (Morton) interleaved sort keys for multi-dimensional layout.

Sorting a table by one column gives perfect file-level min/max pruning
on that column and none on any other. Interleaving the bits of several
key columns (the Morton / Z-order curve) gives *every* interleaved
column locality in the sorted order, so parquet footer min/max stats
prune files for box predicates on ANY of them — the layout trick behind
Delta/Iceberg OPTIMIZE ZORDER, here as a plain column expression that a
caller sorts or range-partitions by.

The key expression is pure literal-shift bit arithmetic (codegen, no
UDF): bit b of column j lands at position ``b * n_cols + j``. Inputs
must be non-negative and fit in ``bits`` bits (callers bucket/offset
first — the standard practice, since Z-ordering works on bounded
quantized values).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(cols: list[Column], bits: int = 8) -> Column:
    """Morton-interleave ``cols`` (each in [0, 2^bits)) into one LONG."""
    n = len(cols)
    out = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1).cast("long"))
            out = out.bitwiseOR(F.shiftleft(bit, b * n + j))
    return out

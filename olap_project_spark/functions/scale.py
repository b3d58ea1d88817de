"""Z-order layout key: the clustering column a manifest-table rewrite
sorts by so per-file min/max statistics prune on either of two
columns (``export.manifest_sink`` compaction takes it as its sort
key)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(x: Column, y: Column, bits: int = 8) -> Column:
    """Morton (Z-order) key: bit-interleave the low ``bits`` of two
    non-negative integer columns — the multi-dimensional clustering
    lever (the Delta/Iceberg ``OPTIMIZE ZORDER BY`` analog, here a pure
    Catalyst expression). Sorting/range-partitioning a table by this
    key clusters it in BOTH dimensions at once, so per-file min/max
    statistics prune selective predicates on EITHER column — a linear
    sort gives that power to its leading column only.

    The interleaved terms occupy disjoint bit positions, so plain
    addition is a bitwise OR; everything stays in one codegen'd int64
    expression.

    At 100 TB: ``df.repartitionByRange(n, zorder_key(...)).sortWithinPartitions(...)
    .write...`` produces the clustered layout; re-run per partition to
    compact (the incremental OPTIMIZE pattern)."""
    out: Column | None = None
    for i in range(bits):
        xb = F.shiftleft(
            F.shiftright(x.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        yb = F.shiftleft(
            F.shiftright(y.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        term = xb + yb
        out = term if out is None else out + term
    assert out is not None
    return out.cast("bigint")

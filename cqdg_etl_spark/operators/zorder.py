"""Z-order (Morton) clustering for multi-dimensional data skipping.

The range-sorted writer (sources/writers.py::write_range_sorted_parquet)
makes row-group statistics tight on ONE key; a predicate on any other
column still scans everything. Z-ordering interleaves the bits of
several keys into a single sort value, so sorting by it co-locates rows
that are close in EVERY dimension — parquet min/max footer stats become
selective for each participating column at once. This is the layout
trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`. ``zorder_key`` builds
the sort value from public expressions only (shiftleft/shiftright folds
inside whole-stage codegen — no UDF, no shuffle of its own); the
``ops_zorder_orders`` query computes it over orders.

The reference has no storage-layout operators at all (its parquet sink
is a plain overwrite, processes.scala:21-39); this is a beyond-reference
scale component: at 100 TB a predicate on (custkey AND date) prunes to
the few files whose z-range intersects the query box instead of reading
the full table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each column into one BIGINT.

    Callers must supply non-negative integer columns that fit in
    ``bits`` bits (rank/scale wider domains first — e.g. days since
    epoch for dates, dictionary codes for strings). With ``n`` columns
    the result uses ``n * bits`` bits; n*bits must stay ≤ 63.

    Bit i of column j lands at position ``i * n + j`` — the standard
    Morton curve. Pure expression fold: evaluates inside codegen, one
    value per row, no shuffle of its own.
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols × {bits} bits exceeds a signed BIGINT")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    out = F.lit(0).cast("long")
    for j, c in enumerate(cs):
        cl = c.cast("long")
        for i in range(bits):
            out = out + F.shiftleft(
                F.shiftright(cl, i).bitwiseAND(F.lit(1)), i * n + j
            )
    return out

"""Deterministic dense sequence assignment at scale.

The frontier needs a monotone, deterministic `enqueue_seq` (the
rebuild's documented tiebreak for Redis zset pop order — SURVEY.md §7
step 4). A naive global `row_number()` is a single-partition sort; this
helper is one distributed sort plus a narrow projection:

1. global sort by the order columns, tagged with
   `monotonically_increasing_id()` and cut eagerly: partition p holds
   the p-th key range in order (AQE coalescing only merges adjacent
   ranges), so `_id >> 33` is the partition and `_id & (2^33-1)` the
   row's place inside it,
2. one aggregate collects the per-partition counts (O(P) driver data),
3. seq = start + offset[partition] + place, with the exclusive prefix
   sums as a literal map.

Same result as a global row_number, no single-reducer stage, and the
result is a pure projection over the cut: every consumer recomputes
identical values without another cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import ckpt_auto

_PLACE_BITS = 33  # monotonically_increasing_id: partition << 33 | place


def with_dense_seq(
    df: DataFrame,
    order_cols: list,
    start: int = 0,
    col_name: str = "seq",
) -> tuple[DataFrame, int]:
    """Assign col_name = start + (0-based global rank by order_cols).
    Returns (rows, row count)."""
    # EAGER cut: the sort's range boundaries come from sampling, so the
    # counts pass and every later read MUST observe the same
    # materialization (a recompute could draw different boundaries →
    # duplicate/missing seqs)
    ranked = ckpt_auto(
        df.orderBy(*order_cols).withColumn("_id", F.monotonically_increasing_id())
    )
    part = F.shiftright("_id", _PLACE_BITS).cast("int")
    counts = sorted(tuple(r) for r in ranked.groupBy(part.alias("p")).count().collect())
    offsets, total = [], start
    for p, n in counts:
        offsets += [F.lit(p), F.lit(total).cast("long")]
        total += n
    offset = F.element_at(F.create_map(*offsets), part) if offsets else F.lit(start)
    place = F.col("_id").bitwiseAND(F.lit((1 << _PLACE_BITS) - 1))
    return (
        ranked.withColumn(col_name, (offset + place).cast("long")).drop("_id"),
        total - start,
    )

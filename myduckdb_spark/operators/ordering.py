"""Total-order sorts for provably small results (guide §2.4).

A final ``orderBy`` compiles to ``Exchange rangepartitioning`` whose
partitioner samples bounds from its child RDD — a separate job that
RE-EXECUTES the child stage (everything since the previous exchange runs
twice: once for the bounds sample, once as the shuffle map side). For a
query whose final result is a handful of rows, that is one extra
exchange, one extra job, and a double-computed final stage — pure tax.

Both helpers produce the identical row set in the identical total order
(all rows land in one partition and are sorted by the same keys); only
the physical partitioning differs.

``sorted_tiny``   — statically bounded results (enum-domain group keys:
                    flags, statuses, nations…). ``coalesce(1)`` fuses the
                    final stage to one task with NO exchange at all; only
                    safe when that stage does O(result) work (a final
                    aggregate merge over pre-aggregated partials).
``sorted_small``  — results bounded by a runtime estimate (row counts
                    from parquet footers). Below the cap, a single-
                    partition round-robin exchange keeps the child stage
                    parallel AND executed once (no range sampling); above
                    it, the scalable range sort — at 100 TB the estimate
                    grows with the data and the gate flips itself off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# One task sorts at most this many (narrow) rows on the small-sort path.
# Measured crossover (groupjoin_order_items, 4-col rows, local[32]):
# 147k rows → single-partition WINS (0.52s vs 0.61s); 1.5M rows → LOSES
# (1.86s vs 1.48s) — funnelling 1.5M rows through one reducer costs more
# than the range sort's sampling pass saves. 500k splits the measured
# points with margin and keeps the single task's sort buffer ≪ memory.
SMALL_SORT_MAX_ROWS = 500_000


def sorted_tiny(df: DataFrame, *cols) -> DataFrame:
    """Total sort of a statically bounded result: no exchange, one task."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def sorted_small(df: DataFrame, *cols, est_rows: int | None) -> DataFrame:
    """Total sort gated on an estimated result bound (None → range sort)."""
    if est_rows is not None and est_rows <= SMALL_SORT_MAX_ROWS:
        return df.repartition(1).sortWithinPartitions(*cols)
    return df.orderBy(*cols)

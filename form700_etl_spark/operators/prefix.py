"""Distributed global prefix sums and ranks — the scalable replacement
for empty-partition-spec cumulative windows.

A `sum(...).over(Window.orderBy(...))` or `row_number().over(
Window.orderBy(...))` with no partitionBy forces Spark to move the
window's ENTIRE input through one `Exchange SinglePartition` and sort
it in a single task — correct at any SF, catastrophic at 100 TB
(VERDICT r13; tests/test_plans.py bans the shape registry-wide).

`partitioned_prefix_sum` computes the same global cumulative sums and
1-based global ranks with the classic two-pass scheme every parallel
scan primitive uses (it is exactly MPI_Scan / the prefix-sum step of a
sample sort):

  pass 1: range-partition by the global order, take per-partition
          totals  (n_partitions tiny rows),
  fix-up: cumulate those totals into per-partition OFFSETS — a window
          over <= n_partitions rows (bounded grain, the one
          SinglePartition window this module is allowed),
  pass 2: per-partition cumulative windows (partitioned by pid — every
          partition sorts only its own slice) plus the broadcast
          offsets.

Requirements: `order_cols` must be a TOTAL order (include a unique
tie-break column).  Range partitioning assigns equal keys to one
partition, so with a total order the pid column is deterministic; the
localCheckpoint pins it across the two consumers regardless.

Known cost (deliberate): pass 2's per-pid window re-shuffles the rows
by hash(pid) even though the checkpoint left them range-clustered —
Spark has no API to assert an existing RDD's distribution, so the
EnsureRequirements exchange is unavoidable while staying JVM-side.
Two linear shuffles total.  The single-shuffle alternatives both trade
worse: an Arrow mapInPandas pass-2 (running state across batches)
would drop the exchange but push every row through Python, and a
quantile-bucketed hash partitioning (reusing one exchange for agg and
window) needs an extra approxQuantile action plus a numeric surrogate
of the sort key.  At the measured 10x probe all consumers grow
sub-linearly (SCALE.md round 14), so the second exchange is a constant
factor, not a scale term.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import materialize, width


def partitioned_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    sum_cols: Sequence[str] = (),
    rank_col: str | None = None,
    num_partitions: int | None = None,
    with_totals: bool = False,
) -> DataFrame:
    """All of ``df``'s columns plus, for each ``c`` in ``sum_cols``, a
    running total ``cum_<c>`` over the global order ``order_cols``
    (inclusive of the current row), and — when ``rank_col`` is given —
    the global 1-based row number under that order.

    ``with_totals`` additionally attaches the GRAND total ``tot_<c>``
    (``SUM(c) OVER ()`` semantics: NULL iff every value is NULL) to
    every output row.  It rides the fix-up pass for free: the full-frame
    sum runs over the same <= ``num_partitions``-row per-partition
    totals the offsets window already sorts, and reaches the rows
    through the same broadcast join — consumers that previously paid a
    whole extra aggregate-plus-join pass over this function's output
    just to learn the total (r15's conformal ``tot``) read a column
    instead (guide §2.4: remove a pass outright).

    No row-grain data ever crosses a SinglePartition exchange: the only
    single-partition window runs over the <= ``num_partitions``
    per-partition totals.

    ``num_partitions`` defaults to ``io.width``, the cluster's core
    count, so each pass-2 sort holds corpus/width rows (a fixed
    constant would make that an O(N) per-task term at 100 TB).
    Callers that know their input size better should still pass it."""
    if num_partitions is None:
        num_partitions = width(df.sparkSession)
    order_cols = list(order_cols)
    parts = materialize(
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn("__pid", F.spark_partition_id()),
        "partitioned_prefix_sum: freeze __pid for the totals pass and the fix-up join",
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("__p_rows")]
    aggs += [F.sum(c).alias(f"__p_{c}") for c in sum_cols]
    stats = parts.groupBy("__pid").agg(*aggs)
    # Offsets come from the STRICTLY-PRIOR partitions' totals (frame
    # ends at -1, not the current row): a window SUM ignores NULLs and
    # is NULL only when every prior total is NULL, which is exactly the
    # global-window semantics being replaced.  The pre-r15 shape
    # (inclusive sum minus own total) turned one all-NULL partition's
    # NULL total into a NULL offset that poisoned every row of that
    # partition — and arithmetic involving it — to NULL (ADVICE r14).
    woff = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    off_cols = [
        F.col("__pid"),
        F.coalesce(F.sum("__p_rows").over(woff), F.lit(0).cast("long")).alias(
            "__row_off"
        ),
    ]
    off_cols += [
        # NULL iff no prior partition holds a non-null value of c
        F.sum(f"__p_{c}").over(woff).alias(f"__off_{c}")
        for c in sum_cols
    ]
    if with_totals:
        # full-frame sum over the SAME <= num_partitions-row window
        # input (same exchange, same sort — zero extra passes)
        wtot = W.orderBy("__pid").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
        off_cols += [
            F.sum(f"__p_{c}").over(wtot).alias(f"tot_{c}") for c in sum_cols
        ]
    offsets = stats.select(*off_cols)  # <= num_partitions rows
    wrow = W.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wrk = W.partitionBy("__pid").orderBy(*order_cols)
    out_cols = [F.col(c) for c in df.columns]

    def _cum(c: str) -> Column:
        run = F.sum(c).over(wrow)  # NULL iff no non-null yet IN partition
        off = F.col(f"__off_{c}")
        return (
            F.when(run.isNull() & off.isNull(), F.lit(None))
            .otherwise(F.coalesce(run, F.lit(0)) + F.coalesce(off, F.lit(0)))
            .alias(f"cum_{c}")
        )

    out_cols += [_cum(c) for c in sum_cols]
    if with_totals:
        out_cols += [F.col(f"tot_{c}") for c in sum_cols]
    if rank_col is not None:
        out_cols.append(
            (F.row_number().over(wrk).cast("long") + F.col("__row_off")).alias(
                rank_col
            )
        )
    return parts.join(F.broadcast(offsets), "__pid").select(*out_cols)

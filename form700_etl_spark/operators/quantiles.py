"""Exact order-statistic thresholds computed at VALUE grain.

``threshold(f)`` = the ``ceil(f*N)``-th smallest value of a column —
equivalently the smallest value whose cumulative row count reaches
``ceil(f*N)`` (ties roll into the lower bin, fully deterministic, no
interpolated-percentile cross-engine hazard).

The computation aggregates to value grain FIRST (one hash aggregate
with map-side partials), runs ONE cumulative window over the DISTINCT
values, and reduces to a single broadcastable row.  Raw rows never
funnel through a single task — unlike the ``orderBy().limit(ceil(f*N))``
idiom, whose limit grows with N and pushes O(N) rows through one
straggler at scale (flagged by the round-5 review; this is the
``clean_quantile_bins`` pattern applied to threshold extraction, plan
contract in tests/test_plans.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..io import materialize


def exact_fraction_thresholds(
    df: DataFrame,
    col: str,
    fracs: Sequence[float] = (0.25, 0.50, 0.75),
    names: Sequence[str] = ("t25", "t50", "t75"),
) -> DataFrame:
    """One-row DataFrame of exact order-statistic thresholds of ``col``.

    For each ``f`` in ``fracs``, emits ``min(v : cum_count(v) >=
    ceil(f*N))`` under the column name from ``names`` — identical to
    ``max`` over the ``ceil(f*N)`` smallest rows, but computed from
    value-grain counts.  The value-grain table is localCheckpoint-ed so
    the input lineage runs once for total + cumulative window; the
    result row is meant to be crossJoin(broadcast(...))-ed back.
    """
    vals = materialize(
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt")),
        "exact_fraction_thresholds value counts: total and cumulative window",
    )
    tot = vals.agg(F.sum("cnt").alias("big_n"))
    cum = vals.withColumn("cum_n", F.sum("cnt").over(W.orderBy(col)))
    aggs = [
        F.min(
            F.when(
                F.col("cum_n") >= F.ceil(F.lit(float(f)) * F.col("big_n")),
                F.col(col),
            )
        ).alias(nm)
        for f, nm in zip(fracs, names)
    ]
    return cum.crossJoin(F.broadcast(tot)).agg(*aggs)

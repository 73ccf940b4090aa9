"""As-of join operator (no native Spark equivalent; build plan M3).

``asof_join_via_window`` implements "for each left row, the latest
right row with right.ts <= left.ts per key" WITHOUT a join: union the
tagged sides, sort within key by time, and carry the last-seen right
value forward with ``last(ignorenulls=True)``.  One shuffle on the
key, linear within partitions — the scalable plan for billions of rows,
with no per-key ``pd.merge_asof`` in Python.

Tie rule: right rows are pre-deduped to one per (key, ts) (greatest id
wins), so the as-of pick is total-ordered and engine-independent —
DuckDB's native ASOF JOIN agrees on the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_via_window(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    right_id: str,
) -> DataFrame:
    """Returns ``left`` plus, per value col, the as-of value from
    ``right`` (latest right.ts <= left.ts within ``key``)."""
    right_dedup = (
        right.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(key, ts).orderBy(F.col(right_id).desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    l_tag = left.withColumn("__is_left", F.lit(1))
    r_tag = right_dedup.withColumn("__is_left", F.lit(0))
    cols = set(l_tag.columns) | set(r_tag.columns)
    conformed = [
        df.select(
            *[
                (F.col(c) if c in df.columns else F.lit(None)).alias(c)
                for c in sorted(cols)
            ]
        )
        for df in (l_tag, r_tag)
    ]
    unioned = conformed[0].unionByName(conformed[1])
    # right rows sort BEFORE left rows at equal ts (as-of includes ties)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.when(F.col("__is_left") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    return carried.filter(F.col("__is_left") == 1).drop("__is_left", *value_cols)

"""Partitioned-table writes with per-partition idempotent backfill.

``insert_overwrite_partitions`` is the lakehouse backfill primitive:
re-running a day's pipeline replaces exactly that day's partition
directories and leaves every other partition byte-untouched (Spark's
dynamic partitionOverwriteMode), so a backfill is idempotent and safe
to retry — the table is never globally truncated (the static-mode
hazard) and concurrent readers of other partitions are unaffected.

At 100 TB the partition column set (e.g. day, or day+region) is the
unit of reprocessing: orchestration retries whole partitions, and the
exchange-free path is a write clustered by the same columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def insert_overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Replace ONLY the partitions present in ``df`` (dynamic overwrite,
    set on this write alone); all other partitions are left physically
    untouched."""
    writer = df.write.partitionBy(*partition_cols).mode("overwrite")
    writer.option("partitionOverwriteMode", "dynamic").parquet(path)

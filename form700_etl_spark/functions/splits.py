"""THE train/val/test split rule — single definition for every query
that assigns, audits, or trains against splits.

Membership is a pure function of the row key: the first two hex chars
of md5(doc_id) compared lexically against the bucket boundaries below
(md5 hex is lowercase in both Spark and DuckDB, so the comparison is
engine-identical).  'cc' = 204/256 ≈ 80% train, 'e6' = 230/256 ≈ 10%
val, remainder test.  Adding data later never moves an existing row
across splits.

Consumers: pipeline_ops.split_train_test (the assignment query),
dedup.dedup_cross_split_leakage (decontamination screen),
operators/text.split_docs (the train/apply text queries in textops).  If the boundaries ever change they change HERE, for all
of them at once — a partial update would silently make the
decontamination screen disagree with the actual split assignment.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRAIN_MAX_H2 = "cc"
VAL_MAX_H2 = "e6"


def split_case_sql(expr: str = "doc_id") -> str:
    """DuckDB CASE expression assigning the split for key ``expr``."""
    h2 = f"substr(md5(CAST({expr} AS VARCHAR)), 1, 2)"
    return (
        f"CASE WHEN {h2} < '{TRAIN_MAX_H2}' THEN 'train' "
        f"WHEN {h2} < '{VAL_MAX_H2}' THEN 'val' "
        "ELSE 'test' END"
    )


def split_col(col: str = "doc_id") -> Column:
    """Spark Column assigning the split for key column ``col``."""
    h2 = F.substring(F.md5(F.col(col).cast("string")), 1, 2)
    return (
        F.when(h2 < TRAIN_MAX_H2, "train")
        .when(h2 < VAL_MAX_H2, "val")
        .otherwise("test")
    )

"""Fuzzy (edit-distance) string join — the record-linkage staple.

Joins two tables on approximate string equality (levenshtein distance
<= ``max_dist``) without the n² cross product:

- **blocking**: the equi-join key is ``(lowercased prefix_len-char
  prefix, exact length)``.  The length band (``abs(len(a) - len(b)) <=
  max_dist`` — a necessary condition for edit distance, so it costs
  recall nothing) is folded INTO the shuffle key by replicating the
  right side ``2*max_dist + 1`` times with shifted probe lengths, so a
  hot prefix ("the ..." in every document title) splits into per-length
  sub-blocks instead of one quadratic bucket;
- **guard**: ``max_block_df`` caps the right-side membership of any
  remaining ``(prefix, length)`` block — a block over the cap is
  excluded from matching (broadcast anti-join, same pattern as the
  hot-shingle df cap in ``operators.dedup.shingle``).  Per-key join
  cost is then bounded by ``|left_key| * (2*max_dist+1) * cap``:
  linear in the corpus, never quadratic, whatever the key skew;
- **verify**: the exact ``levenshtein`` filter runs only on candidates
  that survived blocking, JVM-side (built-in expression, no UDF).

Prefix blocking is a *recall contract*, not an approximation bug: a
pair whose edit appears inside the first ``prefix_len`` characters is
not found — the same kind of declared tradeoff as LSH banding for
MinHash (raise ``prefix_len`` for selectivity, lower it for recall;
prefix-insensitive linkage belongs to the q-gram/PassJoin family,
Li et al., VLDB 2011).  The ``max_block_df`` exclusion is likewise a
declared tradeoff and must be mirrored in any comparison oracle; size
the cap above the largest natural block so it only trims adversarial
skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fuzzy_join(left: DataFrame, right: DataFrame, left_col: str, right_col: str,
               max_dist: int = 2, prefix_len: int = 3,
               max_block_df: int | None = None) -> DataFrame:
    """All (left, right) rows with ``levenshtein(left_col, right_col)
    <= max_dist`` whose lowercased ``prefix_len``-prefixes agree.
    Returns the joined rows plus a ``dist`` column.

    ``max_block_df``: right-side rows whose ``(prefix, length)`` block
    exceeds this count are excluded from matching (skew guard; None
    disables).  The exclusion is part of the operator's declared
    semantics — mirror it in any oracle.
    """
    rkey = F.lower(F.substring(F.col(right_col), 1, prefix_len))
    rlen = F.length(F.col(right_col))

    if max_block_df is not None:
        hot = (
            right.groupBy(rkey.alias("__bk"), rlen.alias("__bl"))
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > max_block_df)
            .select("__bk", "__bl")
        )
        right = right.join(
            F.broadcast(hot),
            (rkey == F.col("__bk")) & (rlen == F.col("__bl")),
            "left_anti",
        )

    # Fold the length band into the equi key: each right row probes at
    # every length it could match (len + delta, |delta| <= max_dist), so
    # the shuffle key is (prefix, exact length) — 2*max_dist+1 fan-out
    # on the smaller reference side buys per-length sub-blocks.
    deltas = F.array(*[F.lit(d) for d in range(-max_dist, max_dist + 1)])
    probes = right.withColumn("__delta", F.explode(deltas)).withColumn(
        "__probe_len", F.col("__delta") + rlen
    ).drop("__delta")

    # The verify work (one banded-DP levenshtein per candidate) lands on
    # the left side's tasks when the right side broadcasts; a small scan
    # arriving as 1-2 partitions would serialize millions of verifies on
    # one core.
    from ..io import fan_out

    left = fan_out(left)

    lkey = F.lower(F.substring(F.col(left_col), 1, prefix_len))
    llen = F.length(F.col(left_col))
    # bounded levenshtein: O(max_dist * len) banded DP, -1 when the
    # distance exceeds the bound — never pays the full DP matrix
    lv = F.levenshtein(F.col(left_col), F.col(right_col), max_dist)
    joined = left.join(
        probes,
        (lkey == rkey) & (llen == F.col("__probe_len")),
    )
    return (
        joined.filter(lv >= 0)
        .withColumn("dist", lv.cast("int"))
        .drop("__probe_len")
    )

"""Collaborative-filtering recommendation operators over the TPC-H
order/lineitem "basket" structure — the co-occurrence analytics an
e-commerce or content platform runs to power "users who bought X also
bought Y".

The reference ETL has no recommender surface (SURVEY §2.6 greenfield);
these belong to the training-data-pipeline family because item-item
co-occurrence graphs are also how retrieval-training pairs and
negative-sampling pools get mined from interaction logs.

Scale design
------------
- The pair generator is a self-join of the per-order item list on the
  order key.  Its output is sum_orders(k_o choose 2) — bounded by the
  basket-size cap, NOT by item popularity, so it is linear in orders
  for bounded baskets (TPC-H: <= 7 lines/order).  For long baskets at
  100 TB the standard guard is a per-basket item cap before the join;
  the cap constant is exposed and the doc states the tradeoff.
- Item degree (order count per item) is an SF-scaling dimension
  aggregate -> an unhinted join (Catalyst's threshold and AQE decide).
- Top-k per item is a window over the CANDIDATE PAIRS (already
  co-occurrence-pruned), not over the item cross product.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import table
from ..registry import register

# Baskets beyond this many distinct items are truncated (rarest-key
# first is not needed for TPC-H's <=7-line orders; the cap exists so
# the pair fan-out stays sum(min(k, cap) choose 2) at 100 TB).
_MAX_BASKET_ITEMS = 32
_TOP_K = 3


@register(
    "recsys_item_item_jaccard_topk",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    capped AS (
        SELECT ok, pk FROM (
            SELECT ok, pk,
                   row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
            FROM items
        ) WHERE rn <= {_MAX_BASKET_ITEMS}
    ),
    deg AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS d FROM capped GROUP BY pk
    ),
    pairs AS (
        SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS co
        FROM capped a JOIN capped b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
    ),
    sym AS (
        SELECT p1 AS item, p2 AS partner, co FROM pairs
        UNION ALL
        SELECT p2 AS item, p1 AS partner, co FROM pairs
    ),
    scored AS (
        SELECT s.item, s.partner, s.co,
               round(CAST(s.co AS DOUBLE)
                     / CAST(d1.d + d2.d - s.co AS DOUBLE), 6) AS jaccard
        FROM sym s
        JOIN deg d1 ON s.item = d1.pk
        JOIN deg d2 ON s.partner = d2.pk
        WHERE s.co >= 2
    ),
    ranked AS (
        SELECT item, partner, co, jaccard,
               row_number() OVER (
                   PARTITION BY item
                   ORDER BY jaccard DESC, co DESC, partner
               ) AS rank
        FROM scored
    )
    SELECT CAST(item AS BIGINT) AS item, CAST(partner AS BIGINT) AS partner,
           co, jaccard, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {_TOP_K}
    ORDER BY item, rank
    """,
    tags=("recsys", "join", "window"),
    doc=(
        "Item-item collaborative filtering: top-3 'also-bought' "
        "neighbors per part by basket Jaccard co/(d1+d2-co) over "
        "order baskets, co-support >= 2 (Sarwar et al. 2001; the "
        "Amazon item-to-item scheme of Linden et al. 2003).  The pair "
        "generator self-joins the DISTINCT (order, part) list on the "
        "order key, so fan-out is sum(basket choose 2) — linear in "
        "orders for capped baskets (cap {cap}) — and co-occurrence "
        "counting is one hash agg; item degrees join back via "
        "unhinted joins; ranking is a window over the "
        "pruned candidate pairs only.  Ties in the double Jaccard "
        "break by (co DESC, partner ASC) — a total order, so the "
        "top-3 per item is unique and the oracle replays cell-exact."
    ).format(cap=_MAX_BASKET_ITEMS),
)
def recsys_item_item_jaccard_topk(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    items = l.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    capped = (
        items.withColumn(
            "rn", F.row_number().over(W.partitionBy("ok").orderBy("pk"))
        )
        .filter(F.col("rn") <= _MAX_BASKET_ITEMS)
        .drop("rn")
    )
    deg = capped.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(F.col("a.pk").alias("p1"), F.col("b.pk").alias("p2"))
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
    )
    sym = pairs.select(
        F.col("p1").alias("item"), F.col("p2").alias("partner"), "co"
    ).unionByName(
        pairs.select(F.col("p2").alias("item"), F.col("p1").alias("partner"), "co")
    )
    d1 = deg.select(F.col("pk").alias("item"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("pk").alias("partner"), F.col("d").alias("d2"))
    scored = (
        sym.filter(F.col("co") >= 2)
        .join(d1, "item")
        .join(d2, "partner")
        .select(
            "item",
            "partner",
            "co",
            F.round(
                F.col("co").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("co")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    w = W.partitionBy("item").orderBy(
        F.col("jaccard").desc(), F.col("co").desc(), F.col("partner")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            F.col("item").cast("long").alias("item"),
            F.col("partner").cast("long").alias("partner"),
            "co",
            "jaccard",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("item", "rank")
    )

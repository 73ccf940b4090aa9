"""Core relational surface: scans, filters, the full join family,
aggregation (incl. rollup/cube/grouping sets), sorts, set ops, scalar
functions.  SURVEY §2.2/§2.3/§2.6 + build-plan M1/M3.

Scale notes (100 TB design point):
- Dimension sides (region/nation/customer aggregates) are broadcast —
  ``F.broadcast`` hints where Catalyst's size estimate might not see it.
- Fact-fact joins (lineitem ⋈ orders) shuffle on the join key once;
  aggregations reuse that partitioning where possible.
- All money arithmetic is exact integer cents (see functions/money.py)
  — cheaper than DECIMAL and reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.money import cents, cents_sql, money, money_sql
from ..io import materialize, table
from ..registry import register

# ---------------------------------------------------------------- M1 flagship


@register(
    "flagship_mktsegment_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM({rev}) AS BIGINT) / 10000.0 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """.format(rev=f"{cents_sql('l.l_extendedprice')} * (100 - {cents_sql('l.l_discount')})"),
    tags=("join", "agg", "flagship"),
    doc="Revenue per market segment: 3-way join + filter + group-by (M1 flagship).",
)
def flagship_mktsegment_revenue(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = table(spark, sf_dir, "customer")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_lineitems"),
            (F.sum(rev) / F.lit(10000.0)).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# ------------------------------------------------------------- TPC-H-flavored

_Q1_DISC = f"{cents_sql('l_extendedprice')} * (100 - {cents_sql('l_discount')})"
_Q1_CHARGE = f"{_Q1_DISC} * (100 + {cents_sql('l_tax')})"


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM({cents_sql('l_extendedprice')}) AS BIGINT) / 100.0 AS sum_base_price,
           CAST(SUM({_Q1_DISC}) AS BIGINT) / 10000.0 AS sum_disc_price,
           CAST(SUM({_Q1_CHARGE}) AS BIGINT) / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM({cents_sql('l_extendedprice')}) AS DOUBLE) / COUNT(*) / 100.0 AS avg_price,
           CAST(SUM({cents_sql('l_discount')}) AS DOUBLE) / COUNT(*) / 100.0 AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
    doc="TPC-H Q1-style pricing summary: wide aggregate over the fact table.",
)
def q1_pricing_summary(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-02")
    qty = F.col("l_quantity").cast("long")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    tax_c = cents("l_tax")
    disc_price = price_c * (F.lit(100) - disc_c)
    charge = disc_price * (F.lit(100) + tax_c)
    n = F.count(F.lit(1))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            (F.sum(price_c) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(disc_price) / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(charge) / F.lit(1000000.0)).alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price_c).cast("double") / n / F.lit(100.0)).alias("avg_price"),
            (F.sum(disc_c).cast("double") / n / F.lit(100.0)).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_top_unshipped_orders",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({_Q1_DISC}) AS BIGINT) / 10000.0 AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY CAST(SUM({_Q1_DISC}) AS BIGINT) DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    doc="TPC-H Q3-style: segment filter, 3-way join, group, exact top-10 by revenue.",
)
def q3_top_unshipped_orders(spark, sf_dir):
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_c).alias("_rev_c"))
        .orderBy(F.col("_rev_c").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            (F.col("_rev_c") / F.lit(10000.0)).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "q5_region_nation_revenue",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({_Q1_DISC}) AS BIGINT) / 10000.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY CAST(SUM({_Q1_DISC}) AS BIGINT) DESC, n.n_name
    """,
    tags=("join", "agg"),
    doc="TPC-H Q5-style: 6-way star join with broadcast dims, revenue per nation.",
)
def q5_region_nation_revenue(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev_c).alias("_rev_c"))
        .orderBy(F.col("_rev_c").desc(), F.col("n_name"))
        .select("n_name", (F.col("_rev_c") / F.lit(10000.0)).alias("revenue"))
    )


# ---------------------------------------------------------------- join family


@register(
    "q7_nation_trade_flows",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM({_Q1_DISC}) AS BIGINT) / 10000.0 AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
      AND l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
      AND n1.n_nationkey <= 3 AND n2.n_nationkey <= 3
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
    tags=("join", "agg"),
    doc="TPC-H Q7 shape: cross-nation trade flows, two roles of the same dim table.",
)
def q7_nation_trade_flows(spark, sf_dir):
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation").filter(F.col("n_nationkey") <= 3)
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("nk1"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("nk2"))
        .filter(F.col("nk1") != F.col("nk2"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg((F.sum(rev) / F.lit(10000.0)).alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_Q1_DISC}) AS BIGINT) / 10000.0 AS revenue,
           n.n_name, c.c_mktsegment
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_mktsegment
    ORDER BY CAST(SUM({_Q1_DISC}) AS BIGINT) DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk"),
    doc="TPC-H Q10 shape: top returned-revenue customers in a date window.",
)
def q10_returned_items(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_mktsegment")
        .agg(F.sum(rev).alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", (F.col("_rev") / F.lit(10000.0)).alias("revenue"),
                "n_name", "c_mktsegment")
    )


@register(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT round(100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN {_Q1_DISC} ELSE 0 END) AS DOUBLE)
                 / CAST(SUM({_Q1_DISC}) AS DOUBLE), 6) AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1997-02-01'
    """,
    tags=("join", "agg"),
    doc="TPC-H Q14 shape: conditional revenue share (LIKE-predicated numerator).",
)
def q14_promo_revenue_share(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-02-01")
    )
    p = table(spark, sf_dir, "part")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0))
    return l.join(p, l.l_partkey == p.p_partkey).agg(
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 6
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "q8_nation_market_share",
    oracle=f"""
    WITH trade AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               n.n_name AS supp_nation,
               {_Q1_DISC} AS rev_c
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           round(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev_c ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(rev_c) AS DOUBLE), 6) AS mkt_share
    FROM trade GROUP BY o_year
    """,
    tags=("join", "agg"),
    doc="TPC-H Q8 shape: one nation's market share of a region's trade, per year.",
)
def q8_nation_market_share(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    cn = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    trade = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cnk"))
        .join(F.broadcast(r), F.col("crk") == r.r_regionkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.col("n_name").alias("supp_nation"),
            rev.alias("rev_c"),
        )
    )
    nation_rev = F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("rev_c")).otherwise(0))
    return trade.groupBy("o_year").agg(
        F.round(nation_rev.cast("double") / F.sum("rev_c").cast("double"), 6).alias("mkt_share")
    )


@register(
    "q19_disjunctive_predicate_revenue",
    oracle=f"""
    SELECT CAST(SUM({_Q1_DISC}) AS BIGINT) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_matched
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 50)
    """,
    tags=("join", "agg"),
    doc=(
        "TPC-H Q19 shape: OR-of-ANDs join predicate — Catalyst pushes the "
        "common join key and factors the disjunction into scan filters."
    ),
)
def q19_disjunctive_predicate_revenue(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    cond = (
        ((p.p_brand == "Brand#1") & p.p_size.between(1, 15) & l.l_quantity.between(1, 20))
        | ((p.p_brand == "Brand#2") & p.p_size.between(10, 30) & l.l_quantity.between(10, 35))
        | ((p.p_brand == "Brand#3") & p.p_size.between(20, 50) & l.l_quantity.between(20, 50))
    )
    return (
        l.join(p, p.p_partkey == l.l_partkey)
        .filter(cond)
        .agg(
            (F.sum(rev) / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )


@register(
    "join_left_customer_orders",
    oracle=f"""
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           COALESCE(CAST(SUM({cents_sql('o.o_totalprice')}) AS BIGINT), 0) / 100.0 AS total_spend
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
    tags=("join",),
    doc="LEFT outer join: customers keep a row (0 orders) when unmatched.",
)
def join_left_customer_orders(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (F.coalesce(F.sum(cents("o_totalprice")), F.lit(0)) / F.lit(100.0)).alias("total_spend"),
        )
    )


@register(
    "join_semi_big_spenders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("join",),
    doc="LEFT SEMI join (EXISTS): customers having at least one >400k order.",
)
def join_semi_big_spenders(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_anti_orderless_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
    doc="LEFT ANTI join (NOT EXISTS): customers with no orders at all.",
)
def join_anti_orderless_customers(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_full_outer_nation_counts",
    oracle="""
    WITH cu AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_customers
                FROM customer GROUP BY c_nationkey),
         su AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_suppliers
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cu.nk, su.nk) AS nationkey,
           COALESCE(cu.n_customers, 0) AS n_customers,
           COALESCE(su.n_suppliers, 0) AS n_suppliers
    FROM cu FULL OUTER JOIN su ON cu.nk = su.nk
    """,
    tags=("join",),
    doc="FULL OUTER join of two aggregates with COALESCE'd keys.",
)
def join_full_outer_nation_counts(spark, sf_dir):
    cu = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    su = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cu.join(su, cu.nk == su.nk, "full_outer").select(
        F.coalesce(cu.nk, su.nk).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


@register(
    "join_cross_region_status",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    tags=("join",),
    doc="CROSS join of two tiny relations (the only safe cartesian).",
)
def join_cross_region_status(spark, sf_dir):
    r = table(spark, sf_dir, "region")
    s = table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s).select("r_name", "o_orderstatus")


# ------------------------------------------------------- grouping aggregation


@register(
    "agg_rollup_region_nation",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(GROUPING(r.r_name) AS INT) AS g_region,
           CAST(GROUPING(n.n_name) AS INT) AS g_nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=("agg",),
    doc="ROLLUP hierarchy totals with GROUPING() markers to disambiguate NULLs.",
)
def agg_rollup_region_nation(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.count(F.lit(1)).alias("n_customers"),
    ).select("r_name", "n_name", "g_region", "g_nation", "n_customers")


@register(
    "agg_cube_status_priority",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) / 100.0 AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
    doc="CUBE over two dimensions with exact money totals.",
)
def agg_cube_status_priority(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("total_price"),
    ).select("o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n_orders", "total_price")


@register(
    "agg_distinct_per_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg",),
    doc="COUNT(DISTINCT) per group (exact distinct shuffles on (group, key)).",
)
def agg_distinct_per_priority(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_stats_acctbal_by_nation",
    oracle=f"""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN({cents_sql('c_acctbal')}) AS BIGINT) / 100.0 AS min_bal,
           CAST(MAX({cents_sql('c_acctbal')}) AS BIGINT) / 100.0 AS max_bal,
           round(CAST(SUM({cents_sql('c_acctbal')}) AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_bal,
           round((CAST(SUM({cents_sql('c_acctbal')} * {cents_sql('c_acctbal')}) AS DOUBLE)
                  - CAST(SUM({cents_sql('c_acctbal')}) AS DOUBLE) * CAST(SUM({cents_sql('c_acctbal')}) AS DOUBLE) / COUNT(*))
                 / (COUNT(*) - 1) / 10000.0, 4) AS var_bal
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(*) > 1
    """,
    tags=("agg",),
    doc="min/max/avg/sample-variance from exact integer moments (deterministic).",
)
def agg_stats_acctbal_by_nation(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    bal = cents("c_acctbal")
    n = F.count(F.lit(1))
    s1 = F.sum(bal)
    s2 = F.sum(bal * bal)
    return (
        c.groupBy("c_nationkey")
        .agg(
            n.alias("n"),
            (F.min(bal) / F.lit(100.0)).alias("min_bal"),
            (F.max(bal) / F.lit(100.0)).alias("max_bal"),
            F.round(s1.cast("double") / n / F.lit(100.0), 4).alias("avg_bal"),
            F.round(
                (s2.cast("double") - s1.cast("double") * s1.cast("double") / n)
                / (n - F.lit(1))
                / F.lit(10000.0),
                4,
            ).alias("var_bal"),
        )
        .filter(F.col("n") > 1)
    )


# --------------------------------------------------------- sorts / set ops


@register(
    "sort_top25_orders",
    oracle=f"""
    SELECT o_orderkey, {cents_sql('o_totalprice')} / 100.0 AS totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderstatus
    FROM orders
    ORDER BY {cents_sql('o_totalprice')} DESC, o_orderkey
    LIMIT 25
    """,
    tags=("sort", "topk"),
    doc="Global top-N via total order + limit (Spark: TakeOrderedAndProject).",
)
def sort_top25_orders(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(cents("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select(
            "o_orderkey",
            (cents("o_totalprice") / F.lit(100.0)).alias("totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderstatus",
        )
    )


@register(
    "distinct_status_priority",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    tags=("setop",),
    doc="DISTINCT projection (hash-dedup with map-side partial).",
)
def distinct_status_priority(spark, sf_dir):
    return table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "set_union_all_parties",
    oracle="""
    SELECT side, nationkey, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT 'customer' AS side, c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT 'supplier' AS side, s_nationkey AS nationkey FROM supplier
    ) u GROUP BY side, nationkey
    """,
    tags=("setop",),
    doc="UNION ALL of two conformed projections, then aggregate (reference A4).",
)
def set_union_all_parties(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("side"), F.col("c_nationkey").alias("nationkey")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("side"), F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).groupBy("side", "nationkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "set_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
    doc="INTERSECT (distinct semantics) of two key sets.",
)
def set_intersect_nations(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 3000
    """,
    tags=("setop",),
    doc="EXCEPT (distinct semantics): nations with customers but no rich suppliers.",
)
def set_except_nations(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 3000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)  # EXCEPT DISTINCT semantics


# --------------------------------------------------- scalar-function surface


@register(
    "case_when_price_bands",
    oracle=f"""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 300000 THEN 'mid'
                ELSE 'high' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) / 100.0 AS total
    FROM orders GROUP BY 1
    """,
    tags=("scalar", "agg"),
    doc="CASE WHEN bucketization feeding an aggregate.",
)
def case_when_price_bands(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 300000, "mid")
        .otherwise("high")
        .alias("band")
    )
    return o.groupBy(band).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("total"),
    )


@register(
    "string_funcs_part",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           substr(p_type, 1, 5) AS type_prefix,
           CAST(length(p_name) AS INT) AS name_len,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           concat(p_brand, '/', p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           trim(concat('  ', p_name, '  ')) AS name_trimmed,
           CAST(strpos(p_name, 'a') AS INT) AS first_a
    FROM part
    """,
    tags=("scalar",),
    doc="String-function surface: upper/lower/substr/length/lpad/concat/replace/trim/instr.",
)
def string_funcs_part(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("name_trimmed"),
        F.instr(F.col("p_name"), "a").cast("int").alias("first_a"),
    )


@register(
    "date_funcs_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dom,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch0,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
    FROM orders
    """,
    tags=("scalar",),
    doc="Date-function surface: parts, interval add, diff, trunc, last_day.",
)
def date_funcs_orders(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.date_format(F.date_add(F.col("o_orderdate"), 30), "yyyy-MM-dd").alias("plus30"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch0"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(F.col("o_orderdate").cast("date")), "yyyy-MM-dd").alias("month_end"),
    )


@register(
    "math_funcs_part",
    oracle="""
    SELECT p_partkey,
           abs(p_retailprice - 910.0) AS abs_diff,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           round(sqrt(p_retailprice), 6) AS price_sqrt,
           round(ln(p_retailprice), 6) AS price_ln,
           round(pow(CAST(p_size AS DOUBLE), 2.0), 1) AS size_sq,
           CAST(p_size % 7 AS INT) AS size_mod7
    FROM part
    """,
    tags=("scalar",),
    doc="Math-function surface: abs/ceil/floor/sqrt/ln/pow/mod (rounded for FP parity).",
)
def math_funcs_part(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.abs(F.col("p_retailprice") - 910.0).alias("abs_diff"),
        F.ceil("p_retailprice").cast("long").alias("price_ceil"),
        F.floor("p_retailprice").cast("long").alias("price_floor"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        F.round(F.pow(F.col("p_size").cast("double"), 2.0), 1).alias("size_sq"),
        (F.col("p_size") % 7).cast("int").alias("size_mod7"),
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS "O",
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS "F",
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
    doc="PIVOT (conditional aggregation) of order status counts per priority.",
)
def pivot_status_by_priority(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.na.fill(0, ["O", "F", "P"])


@register(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, metric, value FROM (
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
    ) u
    """,
    tags=("pivot",),
    doc="UNPIVOT (stack) wide columns into (metric, value) rows.",
)
def unpivot_part_metrics(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr("stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice) AS (metric, value)"),
    )


@register(
    "subquery_orders_above_cust_avg",
    oracle=f"""
    WITH cavg AS (
        SELECT o_custkey,
               CAST(SUM({cents_sql('o_totalprice')}) AS DOUBLE) / COUNT(*) AS avg_cents
        FROM orders GROUP BY o_custkey
    )
    SELECT o.o_orderkey, o.o_custkey,
           {cents_sql('o.o_totalprice')} / 100.0 AS totalprice
    FROM orders o JOIN cavg ON o.o_custkey = cavg.o_custkey
    WHERE {cents_sql('o.o_totalprice')} > cavg.avg_cents
    """,
    tags=("join", "subquery"),
    doc="Correlated-style comparison against a per-group aggregate (decorrelated join).",
)
def subquery_orders_above_cust_avg(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    cavg = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        (F.sum(cents("o_totalprice")).cast("double") / F.count(F.lit(1))).alias("avg_cents")
    )
    return (
        o.join(cavg, o.o_custkey == cavg.ck)
        .filter(cents("o_totalprice").cast("double") > F.col("avg_cents"))
        .select(
            "o_orderkey",
            "o_custkey",
            (cents("o_totalprice") / F.lit(100.0)).alias("totalprice"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM({cents_sql('l_extendedprice')} * {cents_sql('l_discount')}) AS BIGINT)
             / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND {cents_sql('l_discount')} BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
    tags=("agg", "scan"),
    doc=(
        "TPC-H Q6 shape: pure scan-side revenue forecast — every predicate "
        "pushes to the parquet scan, the aggregate is a single map-side "
        "partial + 1-row reduce; the cheapest possible full-table pass."
    ),
)
def q6_forecast_revenue(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & cents("l_discount").between(5, 7)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        (F.sum(cents("l_extendedprice") * cents("l_discount")) / F.lit(10000.0)).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({_Q1_DISC}) AS BIGINT) / 10000.0
             - CAST(SUM(CAST(l.l_quantity AS BIGINT) * {cents_sql('p.p_retailprice')}) AS BIGINT)
               / 200.0 AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
    tags=("join", "agg"),
    doc=(
        "TPC-H Q9 shape (adapted: the fixture has no partsupp, so supply "
        "cost := p_retailprice / 2): per-nation per-year profit over a "
        "part-name-filtered 5-way join.  The part filter is applied BEFORE "
        "the join and the filtered part/supplier/nation dims broadcast, so "
        "the only shuffle is lineitem ⋈ orders."
    ),
)
def q9_product_profit(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    cost = F.col("l_quantity").cast("long") * cents("p_retailprice")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            (
                F.sum(rev) / F.lit(10000.0) - F.sum(cost) / F.lit(200.0)
            ).alias("profit")
        )
    )


@register(
    "q12_shipping_delay_priority",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90 THEN 'normal'
                ELSE 'slow' END AS delay_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
    GROUP BY 1
    """,
    tags=("join", "agg"),
    doc=(
        "TPC-H Q12 shape (adapted: no shipmode/receiptdate columns, so the "
        "grouping key is the order→ship delay bucket): priority mix per "
        "shipping-speed class; one fact-fact shuffle, 3-row result."
    ),
)
def q12_shipping_delay_priority(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "fast").when(delay <= 90, "normal").otherwise("slow")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    WITH c_orders AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
    tags=("join", "agg"),
    doc=(
        "TPC-H Q13 shape: distribution of per-customer order counts, "
        "including zero-order customers (left join with an ON-clause "
        "filter, NOT a WHERE — the outer-join law the reference's test "
        "suite checks).  Two aggregations; the second input is one row "
        "per customer, so the re-shuffle is tiny."
    ),
)
def q13_customer_order_distribution(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH pq AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM({cents_sql('l.l_extendedprice')}) AS BIGINT) / 100.0 / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN pq ON l.l_partkey = pq.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND 5 * CAST(l.l_quantity AS BIGINT) * pq.n < pq.sum_qty
    """,
    tags=("join", "agg", "subquery"),
    doc=(
        "TPC-H Q17 shape: revenue from small-quantity lineitems (qty < "
        "0.2 x per-part average).  The correlated avg is decorrelated into "
        "a per-part aggregate joined back; the qty < 0.2*avg predicate is "
        "rewritten to exact integer form (5*qty*n < sum_qty) so both "
        "engines compare identically with zero float error."
    ),
)
def q17_small_quantity_revenue(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    pq = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(pq, l.l_partkey == pq.pk)
        .filter(
            F.lit(5) * F.col("l_quantity").cast("long") * F.col("n") < F.col("sum_qty")
        )
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(100.0) / F.lit(7.0)).alias("avg_yearly")
        )
    )


@register(
    "q22_idle_rich_customers",
    oracle=f"""
    WITH avg_bal AS (
        SELECT CAST(SUM({cents_sql('c_acctbal')}) AS DOUBLE) / COUNT(*) AS avg_c
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM({cents_sql('c.c_acctbal')}) AS BIGINT) / 100.0 AS totacctbal
    FROM customer c CROSS JOIN avg_bal
    WHERE CAST({cents_sql('c.c_acctbal')} AS DOUBLE) > avg_bal.avg_c
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c.c_nationkey
    """,
    tags=("join", "agg", "subquery"),
    doc=(
        "TPC-H Q22 shape (adapted: no phone column, so the grouping key is "
        "c_nationkey; every fixture customer has SOME order, so 'idle' "
        "means no order since 1999): above-average-balance idle customers "
        "— a scalar-subquery threshold + anti join.  The threshold is a "
        "1-row broadcast; the anti join shuffles on custkey (the orders "
        "side is filtered and projected to the key column before the "
        "shuffle)."
    ),
)
def q22_idle_rich_customers(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    avg_row = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(cents("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_c")
        )
    )
    o_keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_row))
        .filter(cents("c_acctbal").cast("double") > F.col("avg_c"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents("c_acctbal")) / F.lit(100.0)).alias("totacctbal"),
        )
    )


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH unit AS (
        SELECT l.l_partkey, l.l_suppkey, l.l_orderkey, l.l_linenumber,
               CAST({cents_sql('l.l_extendedprice')} AS DOUBLE)
                 / CAST(l.l_quantity AS BIGINT) AS unit_c
        FROM lineitem l
    ),
    ranked AS (
        SELECT u.*, row_number() OVER (
            PARTITION BY u.l_partkey
            ORDER BY u.unit_c, u.l_suppkey, u.l_orderkey, u.l_linenumber) AS rk
        FROM unit u
    )
    SELECT p.p_partkey, p.p_name, s.s_name,
           round(r.unit_c / 100.0, 6) AS best_unit_price
    FROM ranked r
    JOIN part p ON r.l_partkey = p.p_partkey
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rk = 1 AND p.p_size >= 40
    """,
    tags=("join", "topk", "subquery"),
    doc=(
        "TPC-H Q2 shape (adapted: no partsupp, so 'supply cost' is the "
        "observed per-unit price from lineitem): cheapest supplier per "
        "large part.  The argmin is a window row_number with a total "
        "tie-break order (unit price, suppkey, orderkey, linenumber) so "
        "both engines pick the identical row; dims broadcast after the "
        "one window shuffle on partkey."
    ),
)
def q2_min_cost_supplier(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    s = table(spark, sf_dir, "supplier")
    unit = cents("l_extendedprice").cast("double") / F.col("l_quantity").cast("long")
    w = Window.partitionBy("l_partkey").orderBy(
        "unit_c", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    ranked = (
        l.select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", unit.alias("unit_c"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return (
        ranked.join(p, ranked.l_partkey == p.p_partkey)
        .join(s, ranked.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round(F.col("unit_c") / F.lit(100.0), 6).alias("best_unit_price"),
        )
    )


@register(
    "q11_important_stock",
    oracle=f"""
    WITH val AS (
        SELECT l.l_suppkey,
               CAST(SUM(CAST(l.l_quantity AS BIGINT) * {cents_sql('p.p_retailprice')})
                    AS BIGINT) AS value_c
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY l.l_suppkey
    )
    SELECT v.l_suppkey AS suppkey,
           CAST(v.value_c AS BIGINT) / 100.0 AS stock_value
    FROM val v
    WHERE CAST(v.value_c AS DOUBLE) >
          (SELECT CAST(SUM(value_c) AS DOUBLE) * 1.05 / COUNT(*) FROM val)
    """,
    tags=("agg", "subquery"),
    doc=(
        "TPC-H Q11 shape (adapted: shipped-quantity x retail price stands "
        "in for stock value): suppliers holding > 1.05x the average "
        "supplier's share — scale-independent, unlike Q11's fixed "
        "fraction.  The global total is a 1-row broadcast scalar; the "
        "per-supplier aggregate is computed ONCE and self-filtered (no "
        "second scan)."
    ),
)
def q11_important_stock(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    val = materialize(
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("long") * cents("p_retailprice")).alias("value_c")
        ),
        "q11_important_stock supplier values: rows and the global total",
    )
    total = val.agg(
        (F.sum("value_c").cast("double") * F.lit(1.05) / F.count(F.lit(1))).alias("thresh")
    )
    return (
        val.join(F.broadcast(total))
        .filter(F.col("value_c").cast("double") > F.col("thresh"))
        .select(
            F.col("l_suppkey").alias("suppkey"),
            (F.col("value_c") / F.lit(100.0)).alias("stock_value"),
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM({_Q1_DISC}) AS BIGINT) AS total_c
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_c AS BIGINT) / 10000.0 AS total_revenue
    FROM revenue r JOIN supplier s ON r.supplier_no = s.s_suppkey
    WHERE r.total_c = (SELECT MAX(total_c) FROM revenue)
    """,
    tags=("agg", "subquery", "topk"),
    doc=(
        "TPC-H Q15 shape: the quarter's top-revenue supplier(s) — the "
        "view is computed once (localCheckpoint), its max is a 1-row "
        "broadcast, and ties keep every maximal supplier (exact integer "
        "cents, so the equality is safe cross-engine)."
    ),
)
def q15_top_supplier(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    revenue = materialize(
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev).alias("total_c")),
        "q15_top_supplier revenue: the max and the filter join",
    )
    mx = revenue.agg(F.max("total_c").alias("mx"))
    s = table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_c") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_c") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#4'
      AND p.p_type NOT LIKE 'small%'
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p.p_brand, p.p_size
    """,
    tags=("join", "agg", "subquery"),
    doc=(
        "TPC-H Q16 shape: distinct supplier count per (brand, size) with "
        "a NOT-IN exclusion list (negative-balance suppliers ~ complaint "
        "filter).  The exclusion list is a broadcast anti join; the "
        "count-distinct shuffles once on the group key."
    ),
)
def q16_supplier_part_counts(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4") & ~F.col("p_type").like("small%")
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_shippers",
    oracle="""
    WITH red_1997 AS (
        SELECT l.l_suppkey, CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE '%red%'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.qty AS red_qty
    FROM supplier s JOIN red_1997 r ON s.s_suppkey = r.l_suppkey
    WHERE r.qty > 100
    """,
    tags=("join", "agg", "subquery"),
    doc=(
        "TPC-H Q20 shape (adapted: shipped quantity stands in for "
        "availqty): suppliers who moved > 100 units of red parts in 1997 "
        "— a semi-join-reducible aggregate; both date predicates and the "
        "name filter push to the scans before any join."
    ),
)
def q20_excess_shippers(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = table(spark, sf_dir, "supplier")
    qty = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("red_qty"))
        .filter(F.col("red_qty") > 100)
    )
    return qty.join(s, qty.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "red_qty"
    )


@register(
    "q21_sole_late_supplier",
    oracle="""
    WITH order_supp AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_orderkey, l.l_suppkey
    ),
    per_order AS (
        SELECT l_orderkey,
               COUNT(*) AS n_supp,
               SUM(is_late) AS n_late,
               MAX(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
        FROM order_supp GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per_order po JOIN supplier s ON po.late_supp = s.s_suppkey
    WHERE po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    """,
    tags=("join", "agg", "subquery"),
    doc=(
        "TPC-H Q21 shape (adapted: late := shipped > 60 days after order "
        "date; no receipt/commit dates in the fixture): per supplier, the "
        "number of multi-supplier orders where THEY were the only late "
        "shipper.  The exists/not-exists pair is decorrelated into one "
        "two-level aggregation — n_late = 1 picks the sole offender (MAX "
        "over the single late suppkey is exact), no self-joins at all."
    ),
)
def q21_sole_late_supplier(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    late = (
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    ).cast("int")
    order_supp = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    per_order = order_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(s, F.col("late_supp") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "abc_pareto_parts_classification",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey AS p,
               CAST(SUM({cents_sql('l_extendedprice')}) AS BIGINT) AS cents
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
    ranked AS (
        SELECT p, cents,
               SUM(cents) OVER (ORDER BY cents DESC, p) AS cum
        FROM rev
    ),
    classed AS (
        -- cross-multiplied class boundaries: cum/t <= 0.8 etc. become
        -- exact integer comparisons (no rational arithmetic)
        SELECT CASE WHEN cum * 10 <= t * 8 THEN 'A'
                    WHEN cum * 100 <= t * 95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               cents
        FROM ranked CROSS JOIN tot
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           {money_sql('CAST(SUM(cents) AS BIGINT)')} AS revenue,
           round(CAST(SUM(cents) AS DOUBLE)
                 / (SELECT CAST(t AS DOUBLE) FROM tot), 6) AS revenue_share
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
    tags=("agg", "window", "analytics"),
    doc=(
        "ABC / Pareto inventory classification: parts ranked by "
        "revenue, class A = the head covering 80% of cumulative "
        "revenue, B to 95%, C the tail — the 80/15/5 discipline "
        "purchasing runs on.  One part-grain hash agg, one cumulative "
        "window over the part grain (dimension-sized, saturating), and "
        "the class boundaries CROSS-MULTIPLY (cum*10 <= t*8) so "
        "classification is exact integer arithmetic — no rational "
        "thresholds, no ulp at the boundaries."
    ),
)
def abc_pareto_parts_classification(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.sum(cents("l_extendedprice")).cast("long").alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    # Global revenue cumsum over PART grain — unbounded at scale, so it
    # runs as a two-pass partitioned prefix sum (operators/prefix.py),
    # never an empty-partition-spec window (plan-contract ban).
    from ..operators.prefix import partitioned_prefix_sum

    ranked = partitioned_prefix_sum(
        rev, [F.col("cents").desc(), "p"], sum_cols=("cents",)
    ).select("p", "cents", F.col("cum_cents").alias("cum"))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum") * 10 <= F.col("t") * 8, "A")
        .when(F.col("cum") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "t",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            money(F.sum("cents").cast("long")).alias("revenue"),
            F.round(
                F.sum("cents").cast("double") / F.max("t").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "agg_mode_per_priority",
    oracle="""
    WITH grain AS (
        SELECT o_orderpriority AS priority,
               CAST(round(o_totalprice / 10000) AS BIGINT) AS price_band,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    )
    SELECT priority, price_band AS modal_band, c AS n_orders
    FROM (
        SELECT *, row_number() OVER (PARTITION BY priority
                                     ORDER BY c DESC, price_band) AS rk
        FROM grain
    ) WHERE rk = 1
    ORDER BY priority
    """,
    tags=("agg", "window"),
    doc=(
        "Exact per-group MODE (most frequent $100-band of order value "
        "per priority, smallest-band tie-break): the grain agg + "
        "argmax-window rewrite of MODE()/any_value-approximations — "
        "exact at any scale because the window runs over the bounded "
        "(group, band) grain, never raw rows."
    ),
)
def agg_mode_per_priority(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    grain = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") / 10000).cast("long").alias("price_band"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wv = W.partitionBy("priority").orderBy(F.col("c").desc(), "price_band")
    return (
        grain.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("priority", F.col("price_band").alias("modal_band"), F.col("c").alias("n_orders"))
        .orderBy("priority")
    )

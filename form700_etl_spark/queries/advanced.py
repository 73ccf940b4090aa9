"""Advanced aggregate / analytic surface (build plan M3 widening):
exact quantiles, argmin/argmax, ordered string aggregation, having-join
(TPC-H Q18 shape), regexp extraction, first/last window frames, rate
shares.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.money import cents, cents_sql
from ..io import local_frame, materialize, table
from ..registry import register


@register(
    "agg_exact_quantiles",
    oracle=f"""
    SELECT o_orderstatus,
           round(quantile_cont(CAST({cents_sql('o_totalprice')} AS DOUBLE), 0.25) / 100.0, 4) AS p25,
           round(quantile_cont(CAST({cents_sql('o_totalprice')} AS DOUBLE), 0.5) / 100.0, 4) AS median,
           round(quantile_cont(CAST({cents_sql('o_totalprice')} AS DOUBLE), 0.75) / 100.0, 4) AS p75
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg",),
    doc="Exact interpolated quantiles (percentile == quantile_cont) on cents values.",
)
def agg_exact_quantiles(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    cents_expr = "CAST(round(o_totalprice * 100) AS BIGINT)"
    return o.groupBy("o_orderstatus").agg(
        *[
            F.round(F.expr(f"percentile({cents_expr}, {q})") / 100.0, 4).alias(name)
            for q, name in [(0.25, "p25"), (0.5, "median"), (0.75, "p75")]
        ]
    )


@register(
    "agg_argmin_argmax",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(arg_min(o_orderkey, {cents_sql('o_totalprice')} * 10000000 + o_orderkey) AS BIGINT)
             AS cheapest_order,
           CAST(arg_max(o_orderkey, {cents_sql('o_totalprice')} * 10000000 + o_orderkey) AS BIGINT)
             AS priciest_order
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg",),
    doc="argmin/argmax (min_by/max_by) with a tie-free composite ordering key.",
)
def agg_argmin_argmax(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    key = cents("o_totalprice") * F.lit(10000000) + F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.min_by("o_orderkey", key).cast("long").alias("cheapest_order"),
        F.max_by("o_orderkey", key).cast("long").alias("priciest_order"),
    )


@register(
    "agg_sorted_string_concat",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
    doc="Ordered string aggregation: collect_set -> sort_array -> array_join.",
)
def agg_sorted_string_concat(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses")
    )


@register(
    "q18_large_volume_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 150
    )
    SELECT o.o_orderkey, c.c_name, strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           big.total_qty
    FROM big
    JOIN orders o ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("agg", "join"),
    doc="TPC-H Q18 shape: HAVING-filtered fact aggregate joined back to dims.",
)
def q18_large_volume_orders(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "c_name",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "total_qty",
        )
    )


@register(
    "regexp_extract_brand_digits",
    oracle="""
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           CAST(regexp_matches(p_name, 'a.*e') AS BOOLEAN) AS has_a_then_e
    FROM part
    """,
    tags=("scalar",),
    doc="Regexp surface: group extraction + pattern predicate.",
)
def regexp_extract_brand_digits(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"([0-9]+)", 1).cast("int").alias("brand_num"),
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
        F.col("p_name").rlike("a.*e").alias("has_a_then_e"),
    )


@register(
    "window_first_last_order",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS last_order,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window",),
    doc="first_value/last_value over an unbounded frame with unique ordering.",
)
def window_first_last_order(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.count(F.lit(1)).over(w).alias("n_orders"),
    ).distinct()


@register(
    "window_moving_average",
    oracle=f"""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(AVG(CAST({cents_sql('l_extendedprice')} AS DOUBLE))
                 OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 100.0, 4) AS ma5_price
    FROM lineitem
    WHERE l_suppkey <= 2
    """,
    tags=("window",),
    doc="Bounded moving-average frame (ROWS 4 PRECEDING) with unique ordering.",
)
def window_moving_average(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 2)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-4, W.currentRow)
    )
    return l.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.avg(cents("l_extendedprice").cast("double")).over(w) / F.lit(100.0), 4
        ).alias("ma5_price"),
    )


@register(
    "events_from_json_struct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE CAST(props->>'$.k' AS BIGINT) > 50) AS BIGINT) AS n_high_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
    tags=("json", "agg"),
    doc="from_json with an explicit struct schema (vs path extraction) feeding aggregates.",
)
def events_from_json_struct(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json("props", "k bigint").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count_if(F.col("p.k") > 50).alias("n_high_k"),
        F.max("p.k").alias("max_k"),
    )


@register(
    "set_intersect_except_all",
    oracle="""
    WITH a AS (SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 0),
         b AS (SELECT s_nationkey AS nk FROM supplier)
    SELECT 'intersect_all' AS op, nk, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT nk FROM a INTERSECT ALL SELECT nk FROM b
    ) GROUP BY nk
    UNION ALL
    SELECT 'except_all' AS op, nk, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT nk FROM b EXCEPT ALL SELECT nk FROM a
    ) GROUP BY nk
    """,
    tags=("setop",),
    doc="Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL) with multiplicity counts.",
)
def set_intersect_except_all(spark, sf_dir):
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0).select(
        F.col("c_nationkey").alias("nk")
    )
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    ia = (
        c.intersectAll(s)
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "nk", "n")
    )
    ea = (
        s.exceptAll(c)
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "nk", "n")
    )
    return ia.unionByName(ea)


@register(
    "monthly_revenue_pct_change",
    oracle=f"""
    WITH m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    )
    SELECT month, rev_c / 100.0 AS revenue,
           round((CAST(rev_c AS DOUBLE) - CAST(lag(rev_c) OVER (ORDER BY month) AS DOUBLE))
                 / CAST(lag(rev_c) OVER (ORDER BY month) AS DOUBLE) * 100, 6) AS pct_change
    FROM m
    """,
    tags=("window", "agg", "time"),
    doc="Month-over-month revenue % change: time-bucketed agg + lag window.",
)
def monthly_revenue_pct_change(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.sum(cents("o_totalprice")).alias("rev_c")
    )
    w = W.orderBy("month")
    prev = F.lag("rev_c").over(w)
    return m.select(
        "month",
        (F.col("rev_c") / F.lit(100.0)).alias("revenue"),
        F.round(
            (F.col("rev_c").cast("double") - prev.cast("double")) / prev.cast("double") * 100, 6
        ).alias("pct_change"),
    )


@register(
    "calendar_zero_fill",
    oracle="""
    WITH months AS (
        SELECT strftime(unnest(generate_series(DATE '1995-01-01', DATE '2001-08-01',
                                               INTERVAL 1 MONTH)), '%Y-%m') AS month
    ),
    m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders WHERE o_orderstatus = 'P' GROUP BY 1
    )
    SELECT months.month, COALESCE(m.n_orders, 0) AS n_orders
    FROM months LEFT JOIN m ON months.month = m.month
    """,
    tags=("join", "time"),
    doc=(
        "Generated calendar dimension (sequence + explode) left-joined to "
        "sparse monthly counts — zero-filled gaps, the dense-timeline pattern."
    ),
)
def calendar_zero_fill(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-08-01").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("d")
    ).select(F.date_format("d", "yyyy-MM").alias("month"))
    m = (
        o.filter(F.col("o_orderstatus") == "P")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return months.join(m, "month", "left").select(
        "month", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )


@register(
    "events_user_zscore_outliers",
    oracle=f"""
    WITH stats AS (
        SELECT user_id,
               COUNT(*) AS n,
               CAST(SUM({cents_sql('value')}) AS DOUBLE) AS s1,
               CAST(SUM({cents_sql('value')} * {cents_sql('value')}) AS DOUBLE) AS s2
        FROM events GROUP BY user_id
    ),
    z AS (
        SELECT e.event_id, e.user_id, e.value,
               (CAST({cents_sql('e.value')} AS DOUBLE) - s.s1 / s.n)
                 / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)) AS zscore
        FROM events e JOIN stats s ON e.user_id = s.user_id
        WHERE s.n > 1
    )
    SELECT event_id, user_id, round(value, 2) AS value, round(zscore, 4) AS zscore
    FROM z WHERE abs(zscore) > 2.5
    """,
    tags=("agg", "analytics"),
    doc=(
        "Per-user z-score outlier detection from exact integer moments "
        "(sum, sum-of-squares in cents) — anomaly flagging as one aggregate "
        "+ one broadcast join, no window over the fact table."
    ),
)
def events_user_zscore_outliers(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    v = cents("value")
    stats = e.groupBy(F.col("user_id").alias("uid")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    ).filter(F.col("n") > 1)
    mean = F.col("s1") / F.col("n")
    std = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1))
    z = (v.cast("double") - mean) / std
    # filter on the UNROUNDED z (as the oracle does) — filtering after
    # rounding would disagree on values within half an ulp of 2.5
    return (
        e.join(stats, e.user_id == F.col("uid"))
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


@register(
    "events_hourly_type_share",
    oracle="""
    WITH h AS (
        SELECT CAST(hour(ts) AS INT) AS hour_of_day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT hour_of_day, event_type, n,
           round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY hour_of_day), 6) AS share
    FROM h
    """,
    tags=("window", "agg", "time"),
    doc="Hour-of-day event mix with windowed share-of-total ratios.",
)
def events_hourly_type_share(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    h = e.groupBy(
        F.hour("ts").cast("int").alias("hour_of_day"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("hour_of_day")
    return h.select(
        "hour_of_day",
        "event_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("share"),
    )


@register(
    "histogram_fixed_width",
    oracle=f"""
    WITH b AS (
        SELECT LEAST({cents_sql("o_totalprice")} // 3000000, 19) AS bucket
        FROM orders
    ),
    tot AS (SELECT COUNT(*) AS total FROM b)
    SELECT bucket,
           CAST(bucket * 30000 AS BIGINT) AS lo,
           CAST((bucket + 1) * 30000 AS BIGINT) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM tot), 6) AS frac
    FROM b GROUP BY bucket
    """,
    tags=("agg", "stats"),
    doc=(
        "Fixed-width histogram of order prices: 20 x $30k buckets, top "
        "bucket open.  Bucketing is exact integer division on cents (no "
        "float boundary ambiguity cross-engine); one hash agg, no sort."
    ),
)
def histogram_fixed_width(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.least(
            F.expr(f"({cents_sql('o_totalprice')}) div 3000000"), F.lit(19)
        ).alias("bucket")
    )
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    # 20-row result: the unpartitioned total window is free here
    return counts.select(
        "bucket",
        (F.col("bucket") * 30000).cast("long").alias("lo"),
        ((F.col("bucket") + 1) * 30000).cast("long").alias("hi"),
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(W.partitionBy()), 6
        ).alias("frac"),
    )


@register(
    "pandas_udaf_cents_sum",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id
    """,
    tags=("udf", "agg"),
    doc=(
        "Custom aggregate (UDAF) surface: a GROUPED_AGG pandas_udf "
        "summing exact integer cents per user — Arrow-batched, partial-"
        "aggregated per partition by the engine.  The 2-decimal money "
        "values sit far from .5 boundaries after *100, so pandas' "
        "half-even rounding and SQL half-up agree and the result is "
        "integer-exact against the plain SQL oracle.  Python UDAFs are "
        "the EXTENSION point, not the hot path — the builtin-expression "
        "twin is what production plans use; this pins the API."
    ),
)
def pandas_udaf_cents_sum(spark, sf_dir):
    from ..functions.udafs import cents_sum

    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(cents_sum("value").alias("total_cents"))


# Exact-integer-sum Pearson correlation: every moment (Σx, Σx², Σxy)
# accumulates in 128-bit-exact integer arithmetic (Spark DECIMAL(38,0),
# DuckDB HUGEINT) over integer-quantized inputs, so the sums are
# order- and partition-independent; the textbook formula then runs ONCE
# on identical doubles in both engines.  builtin corr() accumulates in
# floating point, where summation order changes the last ulps — the
# same class of nondeterminism the cents convention exists to kill.
_CORR_SQL = (
    "round((n * {sxy} - {sx} * {sy})"
    " / sqrt((n * {sxx} - {sx} * {sx}) * (n * {syy} - {sy} * {sy})), 6)"
)


def _corr_expr(x: str, y: str) -> str:
    return _CORR_SQL.format(
        sxy=f"s_{x}{y}", sx=f"s_{x}", sy=f"s_{y}", sxx=f"s_{x}{x}", syy=f"s_{y}{y}"
    )


@register(
    "stats_exact_correlation",
    oracle=f"""
    WITH q AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS HUGEINT) AS qv,
               CAST(round(l_extendedprice * 100) AS HUGEINT) AS pv,
               CAST(round(l_discount * 10000) AS HUGEINT) AS dv
        FROM lineitem
    ),
    sums AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(qv) AS DOUBLE) AS s_q, CAST(SUM(pv) AS DOUBLE) AS s_p,
               CAST(SUM(dv) AS DOUBLE) AS s_d,
               CAST(SUM(qv * qv) AS DOUBLE) AS s_qq,
               CAST(SUM(pv * pv) AS DOUBLE) AS s_pp,
               CAST(SUM(dv * dv) AS DOUBLE) AS s_dd,
               CAST(SUM(qv * pv) AS DOUBLE) AS s_qp,
               CAST(SUM(qv * dv) AS DOUBLE) AS s_qd,
               CAST(SUM(pv * dv) AS DOUBLE) AS s_pd
        FROM q GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           {_corr_expr('q', 'p')} AS r_qty_price,
           {_corr_expr('q', 'd')} AS r_qty_discount,
           {_corr_expr('p', 'd')} AS r_price_discount
    FROM sums
    """,
    tags=("agg", "stats", "profiling"),
    doc=(
        "Exact distributed Pearson correlation matrix (quantity/price/"
        "discount per returnflag): moments accumulate as 128-bit-exact "
        "integers (DECIMAL(38,0) / HUGEINT) over integer-quantized "
        "values — order- and partition-independent where builtin corr()'s "
        "float accumulation is not — then one double evaluation of the "
        "textbook formula.  One hash agg, map-side partials, no second "
        "pass (the sums ARE the sufficient statistics; at 100 TB they "
        "also merge across shards like any algebraic aggregate)."
    ),
)
def stats_exact_correlation(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    dec = "decimal(19,0)"
    q = F.round(F.col("l_quantity") * 100).cast(dec)
    p = F.round(F.col("l_extendedprice") * 100).cast(dec)
    d = F.round(F.col("l_discount") * 10000).cast(dec)
    big = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    sums = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        big(q).alias("s_q"), big(p).alias("s_p"), big(d).alias("s_d"),
        F.sum(q * q).cast("double").alias("s_qq"),
        F.sum(p * p).cast("double").alias("s_pp"),
        F.sum(d * d).cast("double").alias("s_dd"),
        F.sum(q * p).cast("double").alias("s_qp"),
        F.sum(q * d).cast("double").alias("s_qd"),
        F.sum(p * d).cast("double").alias("s_pd"),
    )
    return sums.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.expr(_corr_expr("q", "p")).alias("r_qty_price"),
        F.expr(_corr_expr("q", "d")).alias("r_qty_discount"),
        F.expr(_corr_expr("p", "d")).alias("r_price_discount"),
    )


# MI per-cell term (n_xy/N) * ln((n_xy*N)/(n_x*n_y)), quantized to
# nano-nats before the cross-cell SUM (exact bigint addition; counts
# are exact integers so both engines feed ln identical doubles).
_MI_TERM_SQL = (
    "CAST(round((CAST(n_xy AS DOUBLE) / n_tot)"
    " * ln((CAST(n_xy AS DOUBLE) * n_tot) / (CAST(n_x AS DOUBLE) * n_y))"
    " * 1000000000) AS BIGINT)"
)


@register(
    "stats_mutual_information",
    oracle=f"""
    WITH joint AS (
        SELECT o_orderstatus AS x, o_orderpriority AS y,
               CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM joint GROUP BY x),
    my AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM joint GROUP BY y),
    tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_tot FROM joint)
    SELECT j.x AS orderstatus, j.y AS orderpriority, j.n_xy, mx.n_x, my.n_y,
           {_MI_TERM_SQL} AS mi_term_nano
    FROM joint j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    ORDER BY orderstatus, orderpriority
    """,
    tags=("agg", "stats", "profiling"),
    doc=(
        "Mutual information between order status and priority: per-cell "
        "terms (n_xy/N)*ln(n_xy*N/(n_x*n_y)) in integer nano-nats (their "
        "sum is the MI score downstream; exact bigint addition).  The "
        "column-dependence screen a profiler runs to find redundant or "
        "leaking features.  One joint groupBy; marginals re-aggregate the "
        "joint counts (never rescan the fact table) and broadcast back."
    ),
)
def stats_mutual_information(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    joint = o.groupBy(
        F.col("o_orderstatus").alias("x"), F.col("o_orderpriority").alias("y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    mx = joint.groupBy("x").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    my = joint.groupBy("y").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    tot = joint.agg(F.sum("n_xy").cast("bigint").alias("n_tot"))
    return (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .join(F.broadcast(tot))
        .select(
            F.col("x").alias("orderstatus"),
            F.col("y").alias("orderpriority"),
            "n_xy",
            "n_x",
            "n_y",
            F.expr(_MI_TERM_SQL).alias("mi_term_nano"),
        )
        .orderBy("orderstatus", "orderpriority")
    )


@register(
    "stats_gini_concentration",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey, CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS x
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i
        FROM per_cust
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS s,
               CAST(SUM(CAST(i AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS six
        FROM ranked
    )
    SELECT n,
           CAST(s AS BIGINT) AS total_cents,
           round((2.0 * CAST(six AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS gini
    FROM sums
    """,
    tags=("agg", "stats", "profiling"),
    doc=(
        "Gini coefficient of revenue concentration across customers — "
        "the inequality screen for skew-aware planning (a high Gini on a "
        "join key predicts hot partitions) and for corpus curation "
        "(source-concentration audits).  Exact: per-customer cents "
        "totals, a global rank over the AGGREGATE (n_keys rows, not the "
        "fact table — the 100 TB reduction happens in the first "
        "groupBy), DECIMAL(38) rank-weighted sums, one double division.  "
        "Closed form gini = (2*Σi·x - (n+1)*Σx) / (n*Σx) over ascending "
        "x (Lorenz-curve identity)."
    ),
)
def stats_gini_concentration(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).cast("bigint").alias("x")
    )
    # Global rank over CUSTOMER grain — unbounded at scale: partitioned
    # two-pass rank (operators/prefix.py), not an empty-partition window.
    from ..operators.prefix import partitioned_prefix_sum

    ranked = partitioned_prefix_sum(
        per_cust, ["x", "o_custkey"], rank_col="i"
    ).select("x", "i")
    sums = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).cast("decimal(38,0)").alias("six"),
    )
    return sums.select(
        "n",
        F.col("s").cast("bigint").alias("total_cents"),
        F.round(
            (2.0 * F.col("six").cast("double") - (F.col("n").cast("double") + 1.0) * F.col("s").cast("double"))
            / (F.col("n").cast("double") * F.col("s").cast("double")),
            6,
        ).alias("gini"),
    )


_OLS_SLOPE_SQL = (
    "round((n * s_qp - s_q * s_p) / (n * s_qq - s_q * s_q), 6)"
)
_OLS_ICEPT_SQL = (
    "round((s_p - ((n * s_qp - s_q * s_p) / (n * s_qq - s_q * s_q)) * s_q) / n, 6)"
)


@register(
    "stats_ols_price_on_quantity",
    oracle=f"""
    WITH q AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS HUGEINT) AS qv,
               CAST(round(l_extendedprice * 100) AS HUGEINT) AS pv
        FROM lineitem
    ),
    sums AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(qv) AS DOUBLE) AS s_q, CAST(SUM(pv) AS DOUBLE) AS s_p,
               CAST(SUM(qv * qv) AS DOUBLE) AS s_qq,
               CAST(SUM(qv * pv) AS DOUBLE) AS s_qp
        FROM q GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           {_OLS_SLOPE_SQL} AS slope_cents_per_cent,
           {_OLS_ICEPT_SQL} AS intercept_cents
    FROM sums
    """,
    tags=("agg", "stats"),
    doc=(
        "Closed-form OLS fit (price ~ quantity per returnflag) from the "
        "same exact integer moments as stats_exact_correlation: slope = "
        "(nSxy - SxSy)/(nSxx - Sx²), intercept = (Sy - slope*Sx)/n — "
        "the grouped regression a feature pipeline runs without any ML "
        "library, one hash agg over 100 TB with mergeable sufficient "
        "statistics and a single double evaluation per group."
    ),
)
def stats_ols_price_on_quantity(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    dec = "decimal(19,0)"
    q = F.round(F.col("l_quantity") * 100).cast(dec)
    p = F.round(F.col("l_extendedprice") * 100).cast(dec)
    sums = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q.cast("decimal(38,0)")).cast("double").alias("s_q"),
        F.sum(p.cast("decimal(38,0)")).cast("double").alias("s_p"),
        F.sum(q * q).cast("double").alias("s_qq"),
        F.sum(q * p).cast("double").alias("s_qp"),
    )
    return sums.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.expr(_OLS_SLOPE_SQL).alias("slope_cents_per_cent"),
        F.expr(_OLS_ICEPT_SQL).alias("intercept_cents"),
    )


@register(
    "events_last_touch_attribution",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, ts, event_type,
               CASE WHEN event_type IN ('click', 'view') THEN event_type END AS touch,
               CASE WHEN event_type IN ('click', 'view') THEN ts END AS touch_ts,
               CASE WHEN event_type = 'purchase' THEN {cents_sql('value')} END AS rev_c
        FROM events WHERE event_type IN ('click', 'view', 'purchase')
    ),
    walked AS (
        SELECT user_id, ts, event_type, rev_c,
               last_value(touch IGNORE NULLS) OVER w AS last_touch,
               last_value(touch_ts IGNORE NULLS) OVER w AS last_touch_ts
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    attributed AS (
        SELECT CASE WHEN last_touch IS NOT NULL
                         AND ts - last_touch_ts <= INTERVAL 24 HOURS
                    THEN last_touch ELSE 'direct' END AS channel,
               rev_c
        FROM walked WHERE event_type = 'purchase'
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(rev_c) AS BIGINT) / 100.0 AS attributed_revenue
    FROM attributed GROUP BY channel ORDER BY channel
    """,
    tags=("events", "window", "analytics"),
    doc=(
        "Last-touch attribution: each purchase credits the user's most "
        "recent click/view within a 24 h lookback, else 'direct' — the "
        "marketing-analytics workhorse, expressed as ONE user-clustered "
        "ordered walk (last_value IGNORE NULLS over a 1-PRECEDING frame, "
        "the same no-join as-of pattern as asof_last_purchase_per_event) "
        "instead of a purchases-to-touches range self-join; exact cents "
        "revenue."
    ),
)
def events_last_touch_attribution(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")).alias("touch"),
        F.when(F.col("event_type").isin("click", "view"), F.col("ts")).alias("touch_ts"),
        F.when(F.col("event_type") == "purchase", cents("value")).alias("rev_c"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_type")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    walked = tagged.select(
        "user_id",
        "ts",
        "event_type",
        "rev_c",
        F.last("touch", ignorenulls=True).over(w).alias("last_touch"),
        F.last("touch_ts", ignorenulls=True).over(w).alias("last_touch_ts"),
    )
    attributed = walked.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("last_touch").isNotNull()
            & (
                F.col("ts").cast("long") - F.col("last_touch_ts").cast("long")
                <= 24 * 3600
            ),
            F.col("last_touch"),
        )
        .otherwise("direct")
        .alias("channel"),
        "rev_c",
    )
    return (
        attributed.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            (F.sum("rev_c").cast("bigint") / F.lit(100.0)).alias("attributed_revenue"),
        )
        .orderBy("channel")
    )


@register(
    "events_type_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    totals AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_from
        FROM trans GROUP BY event_type
    )
    SELECT t.event_type AS from_type, t.next_type AS to_type, t.n,
           round(CAST(t.n AS DOUBLE) / z.n_from, 6) AS p_transition
    FROM trans t JOIN totals z USING (event_type)
    ORDER BY from_type, to_type
    """,
    tags=("events", "window", "analytics"),
    doc=(
        "First-order Markov transition matrix over per-user event "
        "sequences: P(next_type | type) from one lead() window + two "
        "re-aggregations of the transition counts — the sequence-"
        "modeling summary (and sessionless funnel generalization) that "
        "costs one user-clustered exchange regardless of corpus size."
    ),
)
def events_type_transition_matrix(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = trans.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return (
        trans.join(F.broadcast(totals), "event_type")
        .select(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
            "n",
            F.round(F.col("n").cast("double") / F.col("n_from"), 6).alias("p_transition"),
        )
        .orderBy("from_type", "to_type")
    )


@register(
    "events_cumulative_new_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT first_day, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_seen GROUP BY first_day
    )
    SELECT strftime(first_day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM daily ORDER BY first_day
    """,
    tags=("events", "window", "analytics"),
    doc=(
        "Growth accounting: per-day new users (first-seen date per user) "
        "and the cumulative user count — exact distinct growth without "
        "rescanning history per day (one user agg + a tiny day-level "
        "running window; the cumulative window runs over days, not "
        "events, so it is driver-trivial at any scale)."
    ),
)
def events_cumulative_new_users(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("first_day"))
    daily = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = W.orderBy("first_day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        daily.select(
            F.date_format("first_day", "yyyy-MM-dd").alias("day"),
            "new_users",
            F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
            F.col("first_day"),
        )
        .orderBy("first_day")
        .drop("first_day")
    )


# Chi-square per-cell term (O - E)^2 / E with E = n_x*n_y/N, quantized
# to micro-units before the cross-cell SUM (exact bigint addition; the
# inputs are exact integer counts so both engines feed the identical
# doubles through the identical expression tree).
_CHI2_TERM_SQL = (
    "CAST(round("
    "((CAST(n_xy AS DOUBLE) - (CAST(n_x AS DOUBLE) * n_y) / n_tot)"
    " * (CAST(n_xy AS DOUBLE) - (CAST(n_x AS DOUBLE) * n_y) / n_tot))"
    " / ((CAST(n_x AS DOUBLE) * n_y) / n_tot)"
    " * 1000000) AS BIGINT)"
)


@register(
    "stats_chi_square_independence",
    oracle=f"""
    WITH joint AS (
        SELECT c_mktsegment AS x, c_nationkey AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM joint GROUP BY x),
    my AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM joint GROUP BY y),
    tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_tot FROM joint),
    cells AS (
        SELECT mx.x, my.y, mx.n_x, my.n_y, tot.n_tot,
               COALESCE(j.n_xy, 0) AS n_xy
        FROM mx CROSS JOIN my CROSS JOIN tot
        LEFT JOIN joint j ON j.x = mx.x AND j.y = my.y
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT y) - 1) AS BIGINT) AS dof,
           MAX(n_tot) AS n_total,
           round(CAST(SUM({_CHI2_TERM_SQL}) AS DOUBLE) / 1000000, 4) AS chi2
    FROM cells
    """,
    tags=("agg", "stats", "profiling"),
    doc=(
        "Pearson chi-square test of independence between market segment "
        "and nation — the categorical-dependence screen run beside "
        "stats_mutual_information.  Zero-observed cells are materialized "
        "from the marginal cross product (skipping them understates the "
        "statistic), each cell's (O-E)^2/E is quantized to micro-units, "
        "and the cross-cell sum is exact bigint.  One groupBy over the "
        "fact table; marginals re-aggregate the joint counts (cells = "
        "|segments| x |nations|, driver-tiny at any corpus scale)."
    ),
)
def stats_chi_square_independence(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    joint = c.groupBy(
        F.col("c_mktsegment").alias("x"), F.col("c_nationkey").alias("y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    mx = joint.groupBy("x").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    my = joint.groupBy("y").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    tot = joint.agg(F.sum("n_xy").cast("bigint").alias("n_tot"))
    cells = (
        mx.crossJoin(my)
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(joint), ["x", "y"], "left")
        .select("x", "y", "n_x", "n_y", "n_tot", F.coalesce("n_xy", F.lit(0)).alias("n_xy"))
    )
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        ((F.countDistinct("x") - 1) * (F.countDistinct("y") - 1)).cast("bigint").alias("dof"),
        F.max("n_tot").alias("n_total"),
        F.round(F.sum(F.expr(_CHI2_TERM_SQL)).cast("double") / 1000000, 4).alias("chi2"),
    )


@register(
    "stats_ks_two_sample",
    oracle="""
    WITH s AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY 1
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM s),
    ecdf AS (
        SELECT SUM(c1) OVER (ORDER BY v) AS a1,
               SUM(c2) OVER (ORDER BY v) AS a2
        FROM s
    ),
    d AS (
        SELECT MAX(abs(a1 * (SELECT n2 FROM tot) - a2 * (SELECT n1 FROM tot)))
                 AS d_num
        FROM ecdf
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
             AS d_stat,
           round((CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 6)
             AS ks_lambda
    FROM d CROSS JOIN tot
    """,
    tags=("stats", "agg"),
    doc=(
        "Two-sample Kolmogorov-Smirnov statistic comparing the purchase "
        "and click value distributions: ECDFs meet at VALUE grain (one "
        "hash agg of raw events, then a window over distinct cents "
        "values), and the sup-distance runs in EXACT integers — "
        "D = max|a1*n2 - a2*n1| / (n1*n2) — so the max is order- and "
        "partition-independent; one division + the asymptotic lambda at "
        "the end.  The standard distribution-shift gate between two "
        "corpus slices."
    ),
)
def stats_ks_two_sample(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    s = materialize(
        e.groupBy(F.round(F.col("value") * 100).cast("long").alias("v"))
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        ),
        "stats_ks_two_sample value counts: totals and the ECDF window",
    )
    tot = s.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    ecdf = s.select(
        F.sum("c1").over(wv).alias("a1"), F.sum("c2").over(wv).alias("a2")
    )
    d = (
        ecdf.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("a1") * F.col("n2") - F.col("a2") * F.col("n1"))
            ).alias("d_num")
        )
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    d_stat = F.col("d_num").cast("double") / (n1 * n2)
    return d.crossJoin(F.broadcast(tot)).select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(d_stat, 6).alias("d_stat"),
        F.round(d_stat * F.sqrt(n1 * n2 / (n1 + n2)), 6).alias("ks_lambda"),
    )


@register(
    "stats_welch_ttest",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS s,
               CAST(SUM(CAST(round(value * 100) AS HUGEINT)
                        * CAST(round(value * 100) AS HUGEINT)) AS DOUBLE) AS ss
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY event_type
    ),
    w AS (
        SELECT a.n AS n1, a.s AS s1, a.ss AS ss1,
               b.n AS n2, b.s AS s2, b.ss AS ss2
        FROM m a CROSS JOIN m b
        WHERE a.event_type = 'purchase' AND b.event_type = 'view'
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round((s1 / n1) / 100, 6) AS mean1,
           round((s2 / n2) / 100, 6) AS mean2,
           round(((s1 / n1) - (s2 / n2))
                 / sqrt(((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
                        + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2), 6) AS t_stat,
           round(pow(((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
                     + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2, 2)
                 / (pow(((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1, 2) / (n1 - 1)
                    + pow(((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2, 2) / (n2 - 1)),
                 2) AS welch_df
    FROM w
    """,
    tags=("stats", "agg"),
    doc=(
        "Welch's unequal-variance t-test between purchase and view "
        "values: one hash agg produces exact integer moments (cents "
        "sums, HUGEINT/DECIMAL(38) squared sums) per group; the t "
        "statistic and Welch-Satterthwaite df evaluate once on "
        "identical doubles.  The A/B-test primitive, expressed as "
        "mergeable sufficient statistics — partials combine across "
        "shards at any scale."
    ),
)
def stats_welch_ttest(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    vc = F.round(F.col("value") * 100).cast("long")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(vc).cast("double").alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).cast("double").alias("ss"),
    )
    a = m.filter(F.col("event_type") == "purchase").alias("a")
    b = m.filter(F.col("event_type") == "view").alias("b")
    w = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n1"), F.col("a.s").alias("s1"), F.col("a.ss").alias("ss1"),
        F.col("b.n").alias("n2"), F.col("b.s").alias("s2"), F.col("b.ss").alias("ss2"),
    )
    var1 = (F.col("ss1") - F.col("s1") * F.col("s1") / F.col("n1")) / (F.col("n1") - 1)
    var2 = (F.col("ss2") - F.col("s2") * F.col("s2") / F.col("n2")) / (F.col("n2") - 1)
    se1 = var1 / F.col("n1")
    se2 = var2 / F.col("n2")
    return w.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round((F.col("s1") / F.col("n1")) / 100, 6).alias("mean1"),
        F.round((F.col("s2") / F.col("n2")) / 100, 6).alias("mean2"),
        F.round(
            ((F.col("s1") / F.col("n1")) - (F.col("s2") / F.col("n2")))
            / F.sqrt(se1 + se2),
            6,
        ).alias("t_stat"),
        F.round(
            F.pow(se1 + se2, 2)
            / (F.pow(se1, 2) / (F.col("n1") - 1) + F.pow(se2, 2) / (F.col("n2") - 1)),
            2,
        ).alias("welch_df"),
    )


@register(
    "stats_mann_whitney_u",
    oracle="""
    WITH s AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY 1
    ),
    ranked AS (
        -- average rank over ties, doubled to stay integer:
        -- r2 = 2*(rows strictly below) + ties + 1
        SELECT c1, c2, c1 + c2 AS t,
               2 * (SUM(c1 + c2) OVER (ORDER BY v) - (c1 + c2)) + (c1 + c2) + 1
                 AS r2
        FROM s
    ),
    m AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c1 * r2) AS BIGINT) AS r1_x2,
               CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
        FROM ranked
    )
    SELECT n1, n2,
           -- DOUBLED U (always integer): with ties U1 itself can be a
           -- half-integer, and a float->BIGINT cast ROUNDS in DuckDB
           -- but TRUNCATES in Spark, so the doubled value is the only
           -- representation both engines agree on exactly.
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           round(((CAST(r1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2
                  - CAST(n1 AS DOUBLE) * n2 / 2)
                 / sqrt((CAST(n1 AS DOUBLE) * n2 / 12)
                        * ((n1 + n2 + 1)
                           - CAST(tie3 AS DOUBLE)
                             / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 6)
             AS z_stat
    FROM m
    """,
    tags=("stats", "agg"),
    doc=(
        "Mann-Whitney U rank-sum test between purchase and click values "
        "(the nonparametric mean-shift complement to stats_welch_ttest "
        "and the KS sup-distance): average ranks over ties stay EXACT "
        "by doubling (r2 = 2*below + ties + 1), so the rank sum, the "
        "DOUBLED U statistic u1_x2 (emitted doubled because U itself "
        "can be half-integer under ties, and a float->BIGINT cast "
        "rounds in DuckDB but truncates in Spark), and "
        "the tie-correction term are all integer arithmetic; the "
        "normal-approximation z evaluates once on identical doubles.  "
        "Same value-grain shape as the KS test: one hash agg of raw "
        "events, one window over distinct cents values."
    ),
)
def stats_mann_whitney_u(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    s = e.groupBy(F.round(F.col("value") * 100).cast("long").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    t = F.col("c1") + F.col("c2")
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = s.select(
        "c1",
        "c2",
        t.alias("t"),
        (2 * (F.sum(t).over(wv) - t) + t + 1).alias("r2"),
    )
    m = ranked.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * F.col("r2")).cast("long").alias("r1_x2"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("long").alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    r1 = (F.col("r1_x2").cast("double") - n1d * (F.col("n1") + 1)) / 2
    return m.select(
        "n1",
        "n2",
        # doubled U: stays integer under ties (a half-integer U1 would
        # round in DuckDB but truncate in Spark on the BIGINT cast)
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).alias("u1_x2"),
        F.round(
            (r1 - n1d * n2d / 2)
            / F.sqrt(
                (n1d * n2d / 12)
                * (
                    (F.col("n1") + F.col("n2") + 1)
                    - F.col("tie3").cast("double") / (nd * (nd - 1))
                )
            ),
            6,
        ).alias("z_stat"),
    )


@register(
    "stats_proportion_ztest",
    oracle="""
    WITH assigned AS (
        SELECT user_id,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT % 2
                 AS variant,
               MAX(CASE WHEN event_type = 'purchase' AND value > 90
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS k
        FROM assigned GROUP BY variant
    ),
    w AS (
        SELECT a.n AS n1, a.k AS k1, b.n AS n2, b.k AS k2
        FROM m a CROSS JOIN m b WHERE a.variant = 0 AND b.variant = 1
    )
    SELECT n1, k1, n2, k2,
           round(CAST(k1 AS DOUBLE) / n1, 6) AS p1,
           round(CAST(k2 AS DOUBLE) / n2, 6) AS p2,
           round((CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
                 / sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                        * (1 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 6) AS z_stat
    FROM w
    """,
    tags=("stats", "agg"),
    doc=(
        "Two-proportion z-test (pooled) between md5-assigned user "
        "variants on high-value-purchase conversion (every fixture user "
        "purchases SOMETHING, so the gate uses value > 90 to stay non-"
        "degenerate) — THE A/B primitive, alongside "
        "Welch (means), Mann-Whitney (ranks), and KS (distributions).  "
        "Variant assignment is the same deterministic md5 ring every "
        "split operator uses (stable under re-runs and late-arriving "
        "users); conversion counts are exact integers from one user-"
        "grain agg; the pooled z evaluates once on identical doubles."
    ),
)
def stats_proportion_ztest(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    variant = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10)
        .cast("long")
        % 2
    )
    assigned = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
            ).otherwise(0)
        ).alias("converted")
    ).select(variant.alias("variant"), "converted")
    m = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("k")
    )
    a = m.filter(F.col("variant") == 0).alias("a")
    b = m.filter(F.col("variant") == 1).alias("b")
    w = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n1"), F.col("a.k").alias("k1"),
        F.col("b.n").alias("n2"), F.col("b.k").alias("k2"),
    )
    n1, k1 = F.col("n1").cast("double"), F.col("k1").cast("double")
    n2, k2 = F.col("n2").cast("double"), F.col("k2").cast("double")
    pool = (k1 + k2) / (n1 + n2)
    return w.select(
        "n1", "k1", "n2", "k2",
        F.round(k1 / n1, 6).alias("p1"),
        F.round(k2 / n2, 6).alias("p2"),
        F.round(
            (k1 / n1 - k2 / n2)
            / F.sqrt(pool * (1 - pool) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)),
            6,
        ).alias("z_stat"),
    )


@register(
    "events_time_to_convert_percentiles",
    oracle="""
    WITH first_signup AS (
        SELECT user_id, MIN(ts) AS ts_s FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    first_purchase AS (
        SELECT e.user_id,
               MIN(e.ts) AS ts_p
        FROM events e JOIN first_signup s
          ON e.user_id = s.user_id AND e.ts >= s.ts_s
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
    ),
    lat AS (
        SELECT CAST(floor(epoch(p.ts_p)) - floor(epoch(s.ts_s)) AS BIGINT)
                 AS latency_s
        FROM first_signup s JOIN first_purchase p ON s.user_id = p.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           round(quantile_cont(CAST(latency_s AS DOUBLE), 0.5), 4) AS p50_s,
           round(quantile_cont(CAST(latency_s AS DOUBLE), 0.9), 4) AS p90_s,
           CAST(MAX(latency_s) AS BIGINT) AS max_s
    FROM lat
    """,
    tags=("events", "stats", "funnel"),
    doc=(
        "Funnel latency: per user, first signup -> first subsequent "
        "purchase, exact interpolated p50/p90 of the integer-second "
        "latencies (percentile == quantile_cont on identical bigint "
        "inputs).  Two user-grain aggs + one user-keyed join — the "
        "conversion-velocity complement to events_funnel_* (which "
        "counts) and events_retention_cohorts (which buckets)."
    ),
)
def events_time_to_convert_percentiles(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    first_signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_s"))
    )
    first_purchase = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_signup, "user_id")
        .filter(F.col("ts") >= F.col("ts_s"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_p"))
    )
    lat = (
        first_signup.join(first_purchase, "user_id")
        .select(
            (F.col("ts_p").cast("long") - F.col("ts_s").cast("long")).alias(
                "latency_s"
            )
        )
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(latency_s, 0.5)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(latency_s, 0.9)"), 4).alias("p90_s"),
        F.max("latency_s").cast("bigint").alias("max_s"),
    )


# ------------------------------------- mergeable quantile histogram

# Log-spaced bins: bin = floor(16 * log2(cents)) gives 16 sub-bins per
# octave, so interpolated quantile estimates carry a bounded relative
# error of 2^(1/16) - 1 ~ 4.4% regardless of the value distribution —
# and fixed boundaries make partial histograms merge by integer
# addition (the property t-digest needs clustering for; here it is
# free).  tests/test_properties.py asserts both the error bound vs the
# exact percentile and lossless merge across splits.
_HQ_SUBBINS = 16


@register(
    "sketch_histogram_quantiles",
    oracle=f"""
    WITH binned AS (
        SELECT CAST(floor({_HQ_SUBBINS} * log2(
                 CAST(round(l_extendedprice * 100) AS BIGINT))) AS BIGINT)
                 AS bin
        FROM lineitem
    ),
    hist AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM binned GROUP BY bin
    ),
    cum AS (
        SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum,
               (SELECT SUM(cnt) FROM hist) AS big_n
        FROM hist
    ),
    targets AS (
        SELECT q, CAST(ceil(q * (SELECT SUM(cnt) FROM hist)) AS BIGINT) AS t
        FROM (SELECT unnest([0.5, 0.9, 0.99]) AS q)
    ),
    crossing AS (
        SELECT t.q, t.t,
               min_by(c.bin, c.bin) AS bin,
               min_by(c.cnt, c.bin) AS cnt,
               min_by(c.cum, c.bin) AS cum
        FROM targets t JOIN cum c ON c.cum >= t.t
        GROUP BY t.q, t.t
    )
    SELECT q,
           round((pow(2, CAST(bin AS DOUBLE) / {_HQ_SUBBINS})
                  + (pow(2, CAST(bin + 1 AS DOUBLE) / {_HQ_SUBBINS})
                     - pow(2, CAST(bin AS DOUBLE) / {_HQ_SUBBINS}))
                    * (CAST(t - (cum - cnt) AS DOUBLE) / cnt)) / 100, 4)
             AS est_price
    FROM crossing ORDER BY q
    """,
    tags=("sketch", "agg", "stats"),
    doc=(
        "Mergeable quantile sketch: fixed log-spaced bins (16 per "
        "octave) over integer cents — partial histograms merge by "
        "integer ADDITION across shards/days, unlike exact percentile "
        "which needs the full multiset; interpolated estimates carry a "
        "bounded 2^(1/16)-1 ~ 4.4% relative error by construction.  "
        "One hash agg to bin grain, a window over the ~200-bin "
        "histogram, crossing-bin pick + within-bin interpolation.  "
        "Completes the sketch family: HLL/KMV (distinct), count-min "
        "(frequency), Bloom (membership), histogram (quantiles)."
    ),
)
def sketch_histogram_quantiles(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    cents_e = F.round(F.col("l_extendedprice") * 100).cast("long")
    binned = l.select(
        F.floor(_HQ_SUBBINS * F.log2(cents_e)).cast("long").alias("bin")
    )
    hist = materialize(
        binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")),
        "sketch_histogram_quantiles histogram: total and the cumulative window",
    )
    big_n = hist.agg(F.sum("cnt").alias("big_n"))
    cum = hist.withColumn("cum", F.sum("cnt").over(W.orderBy("bin")))
    targets = (
        local_frame(spark, "q double", [(0.5,), (0.9,), (0.99,)])
        .crossJoin(F.broadcast(big_n))
        .select("q", F.ceil(F.col("q") * F.col("big_n")).cast("long").alias("t"))
    )
    crossing = (
        F.broadcast(targets)
        .join(cum, cum.cum >= targets.t)
        .groupBy("q", "t")
        .agg(
            F.min_by("bin", "bin").alias("bin"),
            F.min_by("cnt", "bin").alias("cnt"),
            F.min_by("cum", "bin").alias("cum"),
        )
    )
    lo = F.pow(F.lit(2.0), F.col("bin").cast("double") / _HQ_SUBBINS)
    hi = F.pow(F.lit(2.0), (F.col("bin") + 1).cast("double") / _HQ_SUBBINS)
    frac = (F.col("t") - (F.col("cum") - F.col("cnt"))).cast("double") / F.col("cnt")
    return crossing.select(
        "q", F.round((lo + (hi - lo) * frac) / 100, 4).alias("est_price")
    ).orderBy("q")


@register(
    "stats_spearman_rank_corr",
    oracle="""
    WITH pairs AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    rq AS (
        SELECT q, 2 * (SUM(c) OVER (ORDER BY q) - c) + c + 1 AS r2
        FROM (SELECT q, CAST(SUM(c) AS BIGINT) AS c FROM pairs GROUP BY q)
    ),
    rp AS (
        SELECT p, 2 * (SUM(c) OVER (ORDER BY p) - c) + c + 1 AS r2
        FROM (SELECT p, CAST(SUM(c) AS BIGINT) AS c FROM pairs GROUP BY p)
    ),
    joined AS (
        SELECT pairs.c, rq.r2 AS x, rp.r2 AS y
        FROM pairs JOIN rq ON pairs.q = rq.q JOIN rp ON pairs.p = rp.p
    ),
    m AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS n,
               CAST(SUM(CAST(c AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
               CAST(SUM(CAST(c AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(SUM(CAST(c AS HUGEINT) * CAST(x AS HUGEINT)
                        * CAST(x AS HUGEINT)) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(c AS HUGEINT) * CAST(y AS HUGEINT)
                        * CAST(y AS HUGEINT)) AS DOUBLE) AS syy,
               CAST(SUM(CAST(c AS HUGEINT) * CAST(x AS HUGEINT)
                        * CAST(y AS HUGEINT)) AS DOUBLE) AS sxy
        FROM joined
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS rho_spearman
    FROM m
    """,
    tags=("stats", "agg", "window"),
    doc=(
        "Spearman rank correlation between l_quantity and "
        "l_extendedprice with exact tie handling: average ranks stay "
        "integer by doubling (r2 = 2*below + ties + 1, the Mann-Whitney "
        "trick).  The fact is scanned ONCE, down to (quantity, cents) "
        "pair grain with multiplicities; both rank maps and the moment "
        "agg re-consume that checkpointed table (quantity has 50 "
        "distinct values, price cents live in a bounded domain that "
        "saturates with SF, so everything after the scan is dimension-"
        "sized at any corpus size).  Pearson on the doubled ranks — the "
        "doubling cancels — from exact weighted integer moments; the "
        "rho evaluates once on identical doubles."
    ),
)
def stats_spearman_rank_corr(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    # ONE fact scan: reduce to (quantity, cents) pair grain with
    # multiplicities, checkpoint, and derive both rank maps plus the
    # weighted moments from that bounded-domain table.
    pairs = materialize(
        li.groupBy(
            F.col("l_quantity").cast("long").alias("q"),
            cents("l_extendedprice").alias("p"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        "stats_spearman_rank_corr pairs: both rank maps and the join",
    )
    def rank_map(col):
        g = pairs.groupBy(col).agg(F.sum("c").cast("long").alias("c"))
        wv = W.orderBy(col).rowsBetween(W.unboundedPreceding, W.currentRow)
        return g.select(
            col, (2 * (F.sum("c").over(wv) - F.col("c")) + F.col("c") + 1).alias("r2")
        )
    rq = rank_map("q").withColumnRenamed("r2", "x")
    rp = rank_map("p").withColumnRenamed("r2", "y")
    joined = (
        pairs.join(rq, "q")
        .join(rp, "p")
        .select("c", "x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = joined.agg(
        F.sum("c").cast("double").alias("n"),
        F.sum(dec("c") * dec("x")).cast("double").alias("sx"),
        F.sum(dec("c") * dec("y")).cast("double").alias("sy"),
        F.sum(dec("c") * dec("x") * dec("x")).cast("double").alias("sxx"),
        F.sum(dec("c") * dec("y") * dec("y")).cast("double").alias("syy"),
        F.sum(dec("c") * dec("x") * dec("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return m.select(
        n.cast("bigint").alias("n"),
        F.round(
            (n * F.col("sxy") - sx * sy)
            / F.sqrt((n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy)),
            6,
        ).alias("rho_spearman"),
    )


@register(
    "stats_anova_oneway",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(round(value * 100) AS HUGEINT)
                        * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS ss
        FROM events GROUP BY event_type
    ),
    terms AS (
        -- s^2/n quantized per group BEFORE the cross-group sum so the
        -- reduction is exact integer arithmetic in any order
        SELECT CAST(COUNT(*) AS BIGINT) AS g,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                   / CAST(n AS DOUBLE)) AS HUGEINT))
                    AS DOUBLE) AS sum_s2n,
               CAST(SUM(CAST(s AS HUGEINT)) AS DOUBLE) AS grand_s,
               CAST(SUM(ss) AS DOUBLE) AS grand_ss
        FROM m
    )
    SELECT g, n,
           round(((sum_s2n - round(grand_s * grand_s / CAST(n AS DOUBLE)))
                  / (g - 1))
                 / ((grand_ss - sum_s2n) / (n - g)), 6) AS f_stat,
           round((sum_s2n - round(grand_s * grand_s / CAST(n AS DOUBLE)))
                 / (grand_ss - round(grand_s * grand_s / CAST(n AS DOUBLE))), 6)
             AS eta_squared
    FROM terms
    """,
    tags=("stats", "agg"),
    doc=(
        "One-way ANOVA F-test of event value (cents) across event "
        "types — the k-group generalization of stats_welch_ttest: one "
        "hash agg produces exact integer moments per group, each "
        "s^2/n between-group term quantizes to an integer before the "
        "cross-group reduction (the order-independence pattern), and "
        "F = (SSB/(g-1)) / (SSW/(N-g)) plus effect size eta^2 evaluate "
        "once on identical doubles.  Mergeable sufficient statistics: "
        "the per-group partials combine across shards at any scale."
    ),
)
def stats_anova_oneway(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vc).cast("long").alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).alias("ss"),
    )
    s2n = F.round(
        F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n").cast("double")
    ).cast("decimal(38,0)")
    t = m.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("n").cast("long").alias("n"),
        F.sum(s2n).cast("double").alias("sum_s2n"),
        F.sum(F.col("s").cast("decimal(38,0)")).cast("double").alias("grand_s"),
        F.sum("ss").cast("double").alias("grand_ss"),
    )
    nd = F.col("n").cast("double")
    grand_term = F.round(F.col("grand_s") * F.col("grand_s") / nd)
    ssb = F.col("sum_s2n") - grand_term
    ssw = F.col("grand_ss") - F.col("sum_s2n")
    sst = F.col("grand_ss") - grand_term
    return t.select(
        "g",
        "n",
        F.round((ssb / (F.col("g") - 1)) / (ssw / (nd - F.col("g"))), 6).alias(
            "f_stat"
        ),
        F.round(ssb / sst, 6).alias("eta_squared"),
    )


@register(
    "events_ushape_attribution",
    oracle="""
    WITH walked AS (
        SELECT user_id, ts, event_id, event_type,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                 OVER (PARTITION BY user_id) AS conv_ts
        FROM events
        WHERE event_type IN ('click', 'view', 'purchase')
    ),
    touches AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS pos,
               COUNT(*) OVER (PARTITION BY user_id) AS k
        FROM walked
        WHERE event_type IN ('click', 'view') AND ts < conv_ts
    ),
    credited AS (
        SELECT event_type,
               CAST(round(1000000000000.0 * CASE
                    WHEN k = 1 THEN 1.0
                    WHEN k = 2 THEN 0.5
                    WHEN pos = 1 OR pos = k THEN 0.4
                    ELSE 0.2 / (k - 2) END) AS BIGINT) AS credit_e12
        FROM touches
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           round(CAST(SUM(credit_e12) AS DOUBLE) / 1000000000000.0, 6)
             AS conversions_credited
    FROM credited GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "window", "analytics"),
    doc=(
        "U-shaped (position-based) multi-touch attribution — the 40/20/"
        "40 complement to events_last_touch_attribution: each user's "
        "pre-conversion click/view path credits 40% to the first touch, "
        "40% to the last, and splits 20% across the middles (100% to a "
        "solo touch, 50/50 to a pair).  One user-clustered exchange "
        "serves both windows (conversion timestamp, then path position/"
        "length); per-touch credit quantizes to integer e12 units before "
        "the channel aggregation so the totals sum order-independently."
    ),
)
def events_ushape_attribution(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    wu = W.partitionBy("user_id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    walked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(wu).alias("conv_ts"),
    )
    touches = (
        walked.filter(
            F.col("event_type").isin("click", "view")
            & (F.col("ts") < F.col("conv_ts"))
        )
        .select(
            "user_id",
            "event_type",
            F.row_number()
            .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("pos"),
            F.count(F.lit(1)).over(wu).alias("k"),
        )
    )
    k, pos = F.col("k"), F.col("pos")
    credit = (
        F.when(k == 1, 1.0)
        .when(k == 2, 0.5)
        .when((pos == 1) | (pos == k), 0.4)
        .otherwise(F.lit(0.2) / (k - 2))
    )
    credited = touches.select(
        "event_type",
        F.round(1000000000000.0 * credit).cast("long").alias("credit_e12"),
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.round(
                F.sum("credit_e12").cast("double") / 1000000000000.0, 6
            ).alias("conversions_credited"),
        )
        .orderBy("event_type")
    )


# Poisson bootstrap: replicate count and inverse-CDF thresholds for
# Poisson(1) weights (cumulative e^-1 * sum 1/k!; k <= 7 covers all but
# ~1e-5 of the mass, and the tail bucket maps to 7).  Weights derive
# from md5(orderkey, replicate) — the deterministic hash-ring trick —
# so both engines draw IDENTICAL resamples.
_BOOT_B = 32
_BOOT_CDF = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253,
]


def _poisson_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF)
    )
    return f"CASE {branches} ELSE 7 END"


@register(
    "stats_bootstrap_ci_poisson",
    oracle=f"""
    WITH fan AS (
        SELECT o_orderkey, {cents_sql('o_totalprice')} AS v, b.b
        FROM orders CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) b
    ),
    weighted AS (
        SELECT b, v,
               {_poisson_case_sql(
                   "(('0x' || substr(md5(concat(CAST(o_orderkey AS VARCHAR), '-', "
                   "CAST(b AS VARCHAR))), 1, 8))::BIGINT / 4294967296.0)"
               )} AS w
        FROM fan
    ),
    reps AS (
        -- every replicate also carries the EXACT raw moments, so the
        -- point estimate re-aggregates replicate partials (one scan)
        SELECT b,
               CAST(SUM(CAST(w AS HUGEINT) * CAST(v AS HUGEINT)) AS DOUBLE)
                 / CAST(SUM(w) AS DOUBLE) AS rep_mean,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS raw_sum
        FROM weighted GROUP BY b
    )
    SELECT MAX(n) AS n,
           round(CAST(MAX(raw_sum) AS DOUBLE) / MAX(n) / 100.0, 4) AS mean_price,
           round(quantile_cont(rep_mean, 0.025) / 100.0, 4) AS ci_lo,
           round(quantile_cont(rep_mean, 0.975) / 100.0, 4) AS ci_hi
    FROM reps
    """,
    tags=("stats", "agg", "sample"),
    doc=(
        "Poisson-bootstrap 95% CI for mean order price (Chamandy et al. "
        "2012, the distributed bootstrap): instead of B global "
        "resamples (impossible without B corpus shuffles), every row "
        "draws an independent Poisson(1) replicate weight from "
        "md5(key, b) — one scan with a {B}x map-side fan-out feeds all "
        "{B} replicate means as mergeable integer partials.  The "
        "inverse-CDF thresholds are evaluated on identical hash-uniform "
        "doubles, so both engines draw IDENTICAL resamples; replicate "
        "means divide once, and the percentile CI interpolates over the "
        "same 32-value multiset."
    ).format(B=_BOOT_B),
)
def stats_bootstrap_ci_poisson(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    fan = o.select(
        "o_orderkey",
        cents("o_totalprice").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("-"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / 4294967296.0
    )
    w = F.lit(7)
    for k in range(len(_BOOT_CDF) - 1, -1, -1):
        w = F.when(u < _BOOT_CDF[k], k).otherwise(w)
    weighted = fan.select("b", "v", w.alias("w"))
    # every replicate also carries the EXACT raw moments, so the point
    # estimate re-aggregates replicate partials — one scan total
    reps = weighted.groupBy("b").agg(
        (
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("v").cast("decimal(38,0)"))
            .cast("double")
            / F.sum("w").cast("double")
        ).alias("rep_mean"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("raw_sum"),
    )
    return reps.agg(
        F.max("n").alias("n"),
        F.round(
            F.max("raw_sum").cast("double") / F.max("n") / 100.0, 4
        ).alias("mean_price"),
        F.round(F.expr("percentile(rep_mean, 0.025)") / 100.0, 4).alias("ci_lo"),
        F.round(F.expr("percentile(rep_mean, 0.975)") / 100.0, 4).alias("ci_hi"),
    )


@register(
    "skyline_pareto_frontier",
    oracle=f"""
    WITH g AS (
        SELECT p_size, CAST(MIN({cents_sql('p_retailprice')}) AS BIGINT) AS pmin,
               CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY p_size
    ),
    walked AS (
        SELECT p_size, pmin,
               MIN(pmin) OVER (ORDER BY p_size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS best_larger
        FROM g
    ),
    frontier AS (
        SELECT p_size, pmin FROM walked
        WHERE best_larger IS NULL OR best_larger > pmin
    )
    SELECT f.p_size,
           round(CAST(f.pmin AS DOUBLE) / 100.0, 2) AS frontier_price,
           CAST(COUNT(*) AS BIGINT) AS n_parts_at_point
    FROM frontier f JOIN part p
      ON p.p_size = f.p_size AND {cents_sql('p_retailprice')} = f.pmin
    GROUP BY f.p_size, f.pmin
    ORDER BY f.p_size
    """,
    tags=("agg", "window", "scale"),
    doc=(
        "2-D skyline (Pareto frontier) over parts — maximize size, "
        "minimize price (Borzsonyi et al., ICDE 2001): a part is on the "
        "frontier iff no part is bigger-and-cheaper-or-equal, nor "
        "same-size-and-strictly-cheaper.  The classic O(n^2) dominance "
        "test collapses to ONE window for 2-D: reduce to size grain "
        "(min price per size — 50 groups, exact cents), then a running "
        "min over strictly larger sizes; a size survives iff its min "
        "beats every larger size's.  The dominance window runs over the "
        "bounded size domain, never raw rows; the final joinback "
        "broadcasts the frontier."
    ),
)
def skyline_pareto_frontier(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    g = p.groupBy("p_size").agg(F.min(cents("p_retailprice")).cast("long").alias("pmin"))
    wd = W.orderBy(F.col("p_size").desc()).rowsBetween(W.unboundedPreceding, -1)
    frontier = (
        g.select("p_size", "pmin", F.min("pmin").over(wd).alias("best_larger"))
        .filter(F.col("best_larger").isNull() | (F.col("best_larger") > F.col("pmin")))
        .select("p_size", "pmin")
    )
    f = frontier.select(
        F.col("p_size").alias("f_size"), F.col("pmin").alias("f_pmin")
    )
    return (
        p.join(
            F.broadcast(f),
            (F.col("p_size") == F.col("f_size"))
            & (cents("p_retailprice") == F.col("f_pmin")),
        )
        .groupBy("f_size", "f_pmin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts_at_point"))
        .select(
            F.col("f_size").alias("p_size"),
            F.round(F.col("f_pmin").cast("double") / 100.0, 2).alias("frontier_price"),
            "n_parts_at_point",
        )
        .orderBy("p_size")
    )


@register(
    "stats_kruskal_wallis",
    oracle="""
    WITH vt AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    vv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM vt GROUP BY v),
    ranked AS (
        SELECT v, t,
               2 * (SUM(t) OVER (ORDER BY v) - t) + t + 1 AS r2
        FROM vv
    ),
    grp AS (
        SELECT vt.event_type,
               CAST(SUM(vt.c) AS BIGINT) AS n_g,
               CAST(SUM(vt.c * ranked.r2) AS BIGINT) AS s2_g
        FROM vt JOIN ranked ON vt.v = ranked.v
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               (SELECT CAST(SUM(t * t * t - t) AS BIGINT) FROM vv) AS tie3
        FROM grp
    ),
    contrib AS (
        -- h_g evaluates on identical doubles in both engines (exact
        -- BIGINT inputs, one IEEE square + divide), then quantizes to
        -- micro-units BEFORE the cross-group sum so summation order
        -- can never flip a ulp.
        SELECT CAST(round(1e6 *
                 (3.0 * CAST((s2_g - n_g * (n + 1)) AS DOUBLE)
                      * CAST((s2_g - n_g * (n + 1)) AS DOUBLE))
                 / (CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE) * (n + 1))
               ) AS BIGINT) AS h_e6
        FROM grp, tot
    )
    SELECT n, k, CAST(k - 1 AS BIGINT) AS df,
           round(CAST(SUM(h_e6) AS BIGINT) / 1e6, 4) AS h_stat,
           round((CAST(SUM(h_e6) AS BIGINT) / 1e6)
                 / (1 - CAST(tie3 AS DOUBLE)
                        / (pow(CAST(n AS DOUBLE), 3) - CAST(n AS DOUBLE))), 4)
             AS h_tie_corrected
    FROM contrib, tot
    GROUP BY n, k, tie3
    """,
    tags=("stats", "agg", "window"),
    doc=(
        "Kruskal-Wallis H (1952): the rank-based one-way ANOVA across "
        "ALL event types at once — does at least one type's value "
        "distribution differ?  Generalizes stats_mann_whitney_u's "
        "doubled-rank machinery (r2 = 2*below + ties + 1 keeps average "
        "ranks integer) from 2 groups to k: one scan to (value-cents, "
        "type) grain, the rank window runs over the VALUE grain (a "
        "bounded cents domain that saturates with SF — the MWU/Spearman "
        "precedent), and H = 3/(N(N+1)) * sum_g (S2_g - n_g(N+1))^2 / "
        "n_g from exact integer rank sums, with each group's term "
        "quantized to micro-units before the k-term sum and the exact "
        "tie correction 1 - sum(t^3-t)/(N^3-N) applied once."
    ),
)
def stats_kruskal_wallis(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    vt = materialize(
        e.groupBy(
            F.round(F.col("value") * 100).cast("long").alias("v"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        "stats_kruskal_wallis value counts: value grain and the rank window",
    )
    vv = vt.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = vv.select(
        "v",
        "t",
        (2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1).alias("r2"),
    )
    grp = (
        vt.join(ranked, "v")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("r2")).cast("long").alias("s2_g"),
        )
    )
    tie3 = vv.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3")
    )
    tot = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    ).crossJoin(F.broadcast(tie3))
    diff = (F.col("s2_g") - F.col("n_g") * (F.col("n") + 1)).cast("double")
    contrib = grp.crossJoin(F.broadcast(tot)).select(
        "n",
        "k",
        "tie3",
        F.round(
            1e6
            * (3.0 * diff * diff)
            / (
                F.col("n_g").cast("double")
                * F.col("n").cast("double")
                * (F.col("n") + 1)
            )
        )
        .cast("long")
        .alias("h_e6"),
    )
    h = (F.sum("h_e6").cast("long") / 1e6)
    return contrib.groupBy("n", "k", "tie3").agg(
        F.round(h, 4).alias("h_stat"),
        F.round(
            h
            / (
                1
                - F.col("tie3").cast("double")
                / (F.pow(F.col("n").cast("double"), 3) - F.col("n").cast("double"))
            ),
            4,
        ).alias("h_tie_corrected"),
    ).select(
        "n",
        "k",
        (F.col("k") - 1).cast("long").alias("df"),
        "h_stat",
        "h_tie_corrected",
    )


@register(
    "stats_brown_forsythe",
    oracle="""
    WITH vt AS (
        SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    nt AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM vt GROUP BY g),
    cum AS (
        SELECT vt.g, vt.v, vt.c, nt.n_g,
               SUM(vt.c) OVER (PARTITION BY vt.g ORDER BY vt.v) AS cm
        FROM vt JOIN nt ON vt.g = nt.g
    ),
    med AS (
        -- doubled median (lo-middle + hi-middle) stays exact integer
        SELECT g,
               MIN(CASE WHEN cm >= (n_g + 1) // 2 THEN v END)
               + MIN(CASE WHEN cm >= (n_g + 2) // 2 THEN v END) AS med2
        FROM cum GROUP BY g
    ),
    z AS (
        SELECT vt.g, abs(2 * vt.v - med.med2) AS z2, vt.c
        FROM vt JOIN med ON vt.g = med.g
    ),
    grp AS (
        SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
               CAST(SUM(c * z2) AS BIGINT) AS s_g,
               CAST(SUM(CAST(c AS HUGEINT) * z2 * z2) AS HUGEINT) AS ss_g
        FROM z GROUP BY g
    ),
    pieces AS (
        -- b_g = S_g^2/n_g quantized to the integer grid BEFORE the
        -- cross-group sum (identical doubles both engines; summation
        -- order can never flip a ulp)
        SELECT CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                          / CAST(n_g AS DOUBLE)) AS BIGINT) AS b_g,
               CAST(ss_g AS BIGINT) AS ss_g, n_g, s_g
        FROM grp
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(s_g) AS BIGINT) AS s,
               CAST(SUM(b_g) AS BIGINT) AS b1,
               CAST(SUM(ss_g) AS BIGINT) AS ss
        FROM pieces
    )
    SELECT n, k, CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
           round(((CAST(b1 AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  / (k - 1))
                 / ((CAST(ss AS DOUBLE) - CAST(b1 AS DOUBLE)) / (n - k)),
                 6) AS f_stat
    FROM tot
    """,
    tags=("stats", "agg", "window"),
    doc=(
        "Brown-Forsythe test (1974; the robust median-based Levene): "
        "homogeneity of variance across ALL event types — the "
        "precondition check for the pooled-variance ANOVA.  Per-group "
        "medians come from the value-grain cumulative window using the "
        "DOUBLED median (lo-middle + hi-middle, exact integer — no "
        "float interpolation); spreads z = |2v - med2| stay integers, "
        "so the one-way ANOVA on spreads runs on exact integer "
        "moments (HUGEINT/decimal squared sums), with each group's "
        "S_g^2/n_g term quantized to the integer grid before the "
        "k-term sum.  One scan to (type, cents) grain; every window "
        "and join after it is bounded by the saturating value domain."
    ),
)
def stats_brown_forsythe(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    vt = materialize(
        e.groupBy(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        "stats_brown_forsythe value counts: median window and spread join",
    )
    nt = vt.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    wcum = W.partitionBy("g").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = vt.join(F.broadcast(nt), "g").select(
        "g", "v", "c", "n_g", F.sum("c").over(wcum).alias("cm")
    )
    med = cum.groupBy("g").agg(
        (
            F.min(F.when(F.col("cm") >= F.expr("(n_g + 1) div 2"), F.col("v")))
            + F.min(F.when(F.col("cm") >= F.expr("(n_g + 2) div 2"), F.col("v")))
        ).alias("med2")
    )
    z = vt.join(F.broadcast(med), "g").select(
        "g", F.abs(2 * F.col("v") - F.col("med2")).alias("z2"), "c"
    )
    grp = z.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.col("c") * F.col("z2")).cast("long").alias("s_g"),
        F.sum(
            F.col("c").cast("decimal(12,0)")
            * F.col("z2").cast("decimal(12,0)")
            * F.col("z2").cast("decimal(12,0)")
        )
        .cast("long")
        .alias("ss_g"),
    )
    pieces = grp.select(
        F.round(
            F.col("s_g").cast("double")
            * F.col("s_g").cast("double")
            / F.col("n_g").cast("double")
        )
        .cast("long")
        .alias("b_g"),
        "ss_g",
        "n_g",
        "s_g",
    )
    tot = pieces.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("b_g").cast("long").alias("b1"),
        F.sum("ss_g").cast("long").alias("ss"),
    )
    between = (
        F.col("b1").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n").cast("double")
    ) / (F.col("k") - 1)
    within = (F.col("ss").cast("double") - F.col("b1").cast("double")) / (
        F.col("n") - F.col("k")
    )
    return tot.select(
        "n",
        "k",
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
        F.round(between / within, 6).alias("f_stat"),
    )


_MARKOV_ROUNDS = 6


def _markov_oracle() -> str:
    layers = []
    prev = "pi0"
    for r in range(1, _MARKOV_ROUNDS + 1):
        layers.append(f"""
    pi{r} AS MATERIALIZED (
        SELECT t.next_type AS event_type,
               CAST(SUM(CAST(round(CAST(p.p_e9 AS DOUBLE) * t.n
                                   / z.n_from) AS BIGINT)) AS BIGINT) AS p_e9
        FROM trans t
        JOIN totals z ON t.event_type = z.event_type
        JOIN {prev} p ON t.event_type = p.event_type
        GROUP BY t.next_type
    )""")
        prev = f"pi{r}"
    layers_sql = ",".join(layers)
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    trans AS MATERIALIZED (
        SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    totals AS MATERIALIZED (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_from
        FROM trans GROUP BY event_type
    ),
    pi0 AS MATERIALIZED (
        SELECT event_type,
               CAST(1000000000 // (SELECT COUNT(*) FROM totals) AS BIGINT)
                 AS p_e9
        FROM totals
    ),
    {layers_sql}
    SELECT event_type,
           round(CAST(p_e9 AS DOUBLE)
                 / (SELECT CAST(SUM(p_e9) AS DOUBLE) FROM {prev}), 6)
             AS pi_stationary
    FROM {prev} ORDER BY event_type
    """


@register(
    "events_markov_stationary",
    oracle=_markov_oracle(),
    tags=("events", "stats", "iterative"),
    doc=(
        f"Stationary distribution of the user event-type Markov chain "
        f"by {_MARKOV_ROUNDS} power-iteration rounds over the "
        "transition matrix of events_type_transition_matrix — where "
        "does a long random session spend its time, the steady-state "
        "companion to the one-step matrix.  The chain state is k "
        "values and the matrix k^2 rows (k = event types), so after "
        "ONE corpus-scale lead() window + hash agg builds the counts, "
        "every iteration is a k^2-row join — the PageRank shape with a "
        "bounded graph.  Determinism: probabilities live as e9 fixed-"
        "point integers, each term pi_i * n_ij / n_from_i quantizes "
        "BEFORE the per-state sum (exact BIGINT accumulation), and the "
        "final normalization divides once.  Oracle replays all rounds "
        "as unrolled MATERIALIZED CTEs."
    ),
)
def events_markov_stationary(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    trans = materialize(
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n")),
        "events_markov_stationary transitions: totals and the join",
    )
    totals = trans.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_from")
    )
    tz = materialize(
        trans.join(F.broadcast(totals), "event_type"),
        "events_markov_stationary chain: every power-iteration round",
    )
    k = tz.select("event_type").distinct().count()
    pi = tz.select("event_type").distinct().select(
        "event_type", F.lit(1000000000 // k).cast("long").alias("p_e9")
    )
    for _ in range(_MARKOV_ROUNDS):
        pi = materialize(
            tz.join(F.broadcast(pi), "event_type")
            .select(
                F.col("next_type").alias("event_type"),
                F.round(
                    F.col("p_e9").cast("double")
                    * F.col("n")
                    / F.col("n_from")
                )
                .cast("long")
                .alias("term"),
            )
            .groupBy("event_type")
            .agg(F.sum("term").cast("long").alias("p_e9")),
            "events_markov_stationary distribution: the next round",
        )
    tot = pi.agg(F.sum("p_e9").cast("double").alias("z"))
    return (
        pi.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.round(F.col("p_e9").cast("double") / F.col("z"), 6).alias(
                "pi_stationary"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "clean_quantile_normalize_groups",
    oracle="""
    WITH vt AS (
        SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    nt AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM vt GROUP BY g),
    n_tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vt),
    grp AS (
        -- doubled midrank: r2 = 2*cum - c (exact integer)
        SELECT vt.g, vt.v, vt.c, nt.n_g,
               2 * SUM(vt.c) OVER (PARTITION BY vt.g ORDER BY vt.v) - vt.c
                 AS r2
        FROM vt JOIN nt ON vt.g = nt.g
    ),
    pooled AS (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cum
        FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS c FROM vt GROUP BY v)
    ),
    merged AS (
        -- group rows at scaled position r2*N; pooled rows at 2*cum*n_g.
        -- The first pooled value at-or-after a group row's position is
        -- its normalized value (cross-multiplied integer compare — no
        -- rational arithmetic).  Pooled rows order AFTER group rows at
        -- equal position so the forward window still sees them.
        SELECT g, v, c, pos, is_pooled, v_p FROM (
            SELECT grp.g, grp.v, grp.c,
                   CAST(grp.r2 AS HUGEINT) * n_tot.n AS pos, 0 AS is_pooled,
                   CAST(NULL AS BIGINT) AS v_p
            FROM grp CROSS JOIN n_tot
            UNION ALL
            SELECT nt.g, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   2 * CAST(pooled.cum AS HUGEINT) * nt.n_g, 1, pooled.v
            FROM pooled CROSS JOIN nt
        )
    ),
    mapped AS (
        SELECT g, v, c, is_pooled,
               -- min_by over the forward frame = first pooled value
               -- at-or-after this position
               MIN(v_p) OVER (PARTITION BY g ORDER BY pos, is_pooled
                              ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING) AS v_norm
        FROM merged
    )
    SELECT g AS event_type,
           CAST(SUM(c) AS BIGINT) AS n,
           round(CAST(SUM(c * v) AS DOUBLE) / SUM(c) / 100, 6)
             AS mean_raw,
           round(CAST(SUM(c * v_norm) AS DOUBLE) / SUM(c) / 100, 6)
             AS mean_normalized
    FROM mapped WHERE is_pooled = 0
    GROUP BY g ORDER BY event_type
    """,
    tags=("stats", "window", "mlprep"),
    doc=(
        "Exact quantile normalization across groups (Bolstad et al. "
        "2003's batch-effect correction, the array-normalization "
        "classic): every group's value distribution maps onto the "
        "POOLED empirical distribution — each value goes to the first "
        "pooled value whose cumulative fraction reaches its within-"
        "group midrank quantile.  Everything runs at VALUE grain "
        "(bounded, saturating cents domain): per-group doubled "
        "midranks and the pooled CDF come from cumulative windows, "
        "and the quantile lookup avoids rational arithmetic entirely "
        "by CROSS-MULTIPLYING (group position r2*N vs pooled key "
        "2*cum*n_g — exact 128-bit decimals, safe past the ~2e9-row "
        "BIGINT ceiling) inside one merged forward-looking "
        "window per group, the sorted-union as-of trick.  Output "
        "means per group verify the defining property: normalized "
        "means equalize while raw means differ."
    ),
)
def clean_quantile_normalize_groups(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    vt = materialize(
        e.groupBy(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        "clean_quantile_normalize_groups value counts: ranks, pooled CDF, totals",
    )
    nt = vt.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    n_tot = vt.agg(F.sum("c").cast("long").alias("n"))
    wg = W.partitionBy("g").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    grp = vt.join(F.broadcast(nt), "g").select(
        "g",
        "v",
        "c",
        (2 * F.sum("c").over(wg) - F.col("c")).alias("r2"),
    )
    pooled_grain = vt.groupBy("v").agg(F.sum("c").cast("long").alias("c"))
    pooled = pooled_grain.select(
        "v",
        F.sum("c")
        .over(W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
    )
    g_rows = grp.crossJoin(F.broadcast(n_tot)).select(
        "g",
        "v",
        "c",
        # decimal(38): pos ~ 2*N^2 overflows BIGINT past N ~ 2.1e9
        (F.col("r2").cast("decimal(19,0)") * F.col("n").cast("decimal(19,0)"))
        .alias("pos"),
        F.lit(0).alias("is_pooled"),
        F.lit(None).cast("long").alias("v_p"),
    )
    p_rows = pooled.crossJoin(F.broadcast(nt)).select(
        "g",
        F.lit(None).cast("long").alias("v"),
        F.lit(None).cast("long").alias("c"),
        (
            2 * F.col("cum").cast("decimal(19,0)")
            * F.col("n_g").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("pos"),
        F.lit(1).alias("is_pooled"),
        F.col("v").alias("v_p"),
    )
    wfwd = W.partitionBy("g").orderBy("pos", "is_pooled").rowsBetween(
        0, W.unboundedFollowing
    )
    mapped = g_rows.unionByName(p_rows).select(
        "g", "v", "c", "is_pooled", F.min("v_p").over(wfwd).alias("v_norm")
    )
    return (
        mapped.filter(F.col("is_pooled") == 0)
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.round(
                F.sum(F.col("c") * F.col("v")).cast("double")
                / F.sum("c")
                / 100,
                6,
            ).alias("mean_raw"),
            F.round(
                F.sum(F.col("c") * F.col("v_norm")).cast("double")
                / F.sum("c")
                / 100,
                6,
            ).alias("mean_normalized"),
        )
        .select(F.col("g").alias("event_type"), "n", "mean_raw", "mean_normalized")
        .orderBy("event_type")
    )


@register(
    "stats_ks_exponential_interarrival",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events
    ),
    gaps AS (
        SELECT CAST(gap_us AS BIGINT) AS x, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE gap_us IS NOT NULL AND gap_us > 0
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c * x) AS BIGINT) AS s FROM gaps),
    cum AS (
        SELECT x, c, SUM(c) OVER (ORDER BY x) AS cm FROM gaps
    ),
    d AS (
        SELECT MAX(greatest(
                   abs(CAST(cm AS DOUBLE) / n
                       - (1 - exp(-(CAST(n AS DOUBLE) / s) * x))),
                   abs(CAST(cm - c AS DOUBLE) / n
                       - (1 - exp(-(CAST(n AS DOUBLE) / s) * x)))
               )) AS d_stat
        FROM cum CROSS JOIN tot
    )
    SELECT n,
           round(3600000000.0 * n / s, 6) AS lambda_per_hour,
           round(d_stat, 6) AS d_stat,
           round(sqrt(CAST(n AS DOUBLE)) * d_stat, 4) AS sqrt_n_d
    FROM d CROSS JOIN tot
    """,
    tags=("stats", "window", "events"),
    doc=(
        "One-sample Kolmogorov-Smirnov goodness-of-fit of per-user "
        "inter-arrival gaps against the fitted exponential (lambda = "
        "MLE n/sum): is arrival behavior Poisson, or bursty?  The "
        "one-sample companion to stats_ks_two_sample and the "
        "distributional sibling of events_burstiness_fano.  One "
        "user-clustered lag window produces gaps, a hash agg reduces "
        "them to gap-value grain, and D = sup|F_n - F_exp| evaluates "
        "both CDF step edges per distinct gap — exp() on identical "
        "doubles and a MAX (order-insensitive, unlike sums — no "
        "quantization needed) finish the statistic."
    ),
)
def stats_ks_exponential_interarrival(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(ts)")  # exact integer microseconds —
    # never a double round-trip (ulp at epoch scale is ~0.5 us)
    seq = e.select((us - F.lag(us).over(wl)).alias("gap_us"))
    gaps = materialize(
        seq.filter(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
        .groupBy(F.col("gap_us").cast("long").alias("x"))
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        "stats_ks_exponential_interarrival gaps: totals and the CDF window",
    )
    tot = gaps.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("x")).cast("long").alias("s"),
    )
    cum = gaps.select(
        "x",
        "c",
        F.sum("c")
        .over(W.orderBy("x").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cm"),
    )
    f_exp = 1 - F.exp(
        -(F.col("n").cast("double") / F.col("s")) * F.col("x")
    )
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.greatest(
                F.abs(F.col("cm").cast("double") / F.col("n") - f_exp),
                F.abs(
                    (F.col("cm") - F.col("c")).cast("double") / F.col("n")
                    - f_exp
                ),
            )
        ).alias("d_stat")
    )
    return d.crossJoin(F.broadcast(tot)).select(
        "n",
        F.round(3600000000.0 * F.col("n") / F.col("s"), 6).alias(
            "lambda_per_hour"
        ),
        F.round("d_stat", 6).alias("d_stat"),
        F.round(
            F.sqrt(F.col("n").cast("double")) * F.col("d_stat"), 4
        ).alias("sqrt_n_d"),
    )


_PERM_B = 64


@register(
    "stats_permutation_test_means",
    oracle=f"""
    WITH pool AS (
        SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    obs AS (
        SELECT CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN g = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN g = 0 THEN v ELSE 0 END) AS BIGINT) AS s2
        FROM pool
    ),
    fan AS (
        SELECT p.v, b.b,
               CASE WHEN ('0x' || substr(md5(concat(
                        CAST(p.event_id AS VARCHAR), '-',
                        CAST(b.b AS VARCHAR))), 1, 8))::BIGINT % 2 = 1
                    THEN 1 ELSE 0 END AS rg
        FROM pool p
        CROSS JOIN (SELECT unnest(generate_series(0, {_PERM_B - 1})) AS b) b
    ),
    reps AS (
        SELECT b,
               CAST(SUM(CASE WHEN rg = 1 THEN v ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN rg = 1 THEN 1 ELSE 0 END)
               - CAST(SUM(CASE WHEN rg = 0 THEN v ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN rg = 0 THEN 1 ELSE 0 END) AS rep_diff
        FROM fan GROUP BY b
    )
    SELECT obs.n1, obs.n2,
           round((CAST(obs.s1 AS DOUBLE) / obs.n1
                  - CAST(obs.s2 AS DOUBLE) / obs.n2) / 100, 6) AS diff_obs,
           round(CAST(1 + (SELECT COUNT(*) FROM reps, obs
                           WHERE abs(rep_diff)
                                 >= abs(CAST(obs.s1 AS DOUBLE) / obs.n1
                                        - CAST(obs.s2 AS DOUBLE) / obs.n2))
                      AS DOUBLE) / ({_PERM_B} + 1), 6) AS p_value
    FROM obs
    """,
    tags=("stats", "agg", "sample"),
    doc=(
        f"Randomization (permutation) test for the purchase-vs-view "
        f"mean difference, B = {_PERM_B} reassignments: each replicate "
        "relabels every row by an md5(event_id, b) coin flip (the "
        "Chamandy distributed-resampling idiom — balanced Bernoulli "
        "randomization, the scalable variant of the exact fixed-size "
        "permutation; groups here are ~equal so the null law matches), "
        "and p = (1 + #{{|diff_b| >= |diff_obs|}})/(B+1).  ONE scan "
        "fans out B replicate labels map-side; every replicate "
        "difference reduces from exact integer sums and the "
        "comparisons run on identical doubles — both engines draw "
        "IDENTICAL reassignments, so even the p-value is cell-exact."
    ),
)
def stats_permutation_test_means(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pool = materialize(
        e.select(
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("v"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
        ),
        "stats_permutation_test_means pool: observed stats and the B-way fan",
    )
    obs = pool.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("g") == 1, F.col("v")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("g") == 0, F.col("v")).otherwise(0))
        .cast("long")
        .alias("s2"),
    )
    fan = pool.select(
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("b"),
        "event_id",
    ).select(
        "v",
        "b",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "-",
                            F.col("event_id").cast("string"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("rg"),
    )
    reps = fan.groupBy("b").agg(
        (
            F.sum(F.when(F.col("rg") == 1, F.col("v")).otherwise(0)).cast(
                "double"
            )
            / F.sum(F.when(F.col("rg") == 1, 1).otherwise(0))
            - F.sum(F.when(F.col("rg") == 0, F.col("v")).otherwise(0)).cast(
                "double"
            )
            / F.sum(F.when(F.col("rg") == 0, 1).otherwise(0))
        ).alias("rep_diff")
    )
    diff_obs = F.col("s1").cast("double") / F.col("n1") - F.col(
        "s2"
    ).cast("double") / F.col("n2")
    exceed = (
        reps.crossJoin(F.broadcast(obs))
        .filter(F.abs(F.col("rep_diff")) >= F.abs(diff_obs))
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    return (
        obs.crossJoin(F.broadcast(exceed))
        .select(
            "n1",
            "n2",
            F.round(diff_obs / 100, 6).alias("diff_obs"),
            F.round(
                (1 + F.col("k")).cast("double") / (_PERM_B + 1), 6
            ).alias("p_value"),
        )
    )


@register(
    "stats_wilcoxon_signed_rank",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100) AS BIGINT) END)
                    AS BIGINT) AS s_p,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS n_p,
               CAST(SUM(CASE WHEN event_type = 'view'
                             THEN CAST(round(value * 100) AS BIGINT) END)
                    AS BIGINT) AS s_v,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END)
                    AS BIGINT) AS n_v
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY user_id
    ),
    diffs AS (
        -- paired difference of MEANS, cleared of division: d2 =
        -- s_p*n_v - s_v*n_p keeps the sign and |d| exact integers
        SELECT s_p * n_v - s_v * n_p AS d2
        FROM per_user WHERE n_p IS NOT NULL AND n_v IS NOT NULL
    ),
    nz AS (SELECT d2 FROM diffs WHERE d2 <> 0),
    vt AS (
        SELECT abs(d2) AS a, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN d2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS c_pos
        FROM nz GROUP BY 1
    ),
    ranked AS (
        SELECT a, c, c_pos,
               2 * (SUM(c) OVER (ORDER BY a) - c) + c + 1 AS r2
        FROM vt
    ),
    m AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c_pos * r2) AS BIGINT) AS w_plus_x2,
               CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
        FROM ranked
    )
    SELECT n,
           CAST(w_plus_x2 AS BIGINT) AS w_plus_x2,
           round((CAST(w_plus_x2 AS DOUBLE) / 2
                  - CAST(n AS DOUBLE) * (n + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                        - CAST(tie3 AS DOUBLE) / 48), 6) AS z_stat
    FROM m
    """,
    tags=("stats", "agg", "window"),
    doc=(
        "Wilcoxon signed-rank test (1945): the PAIRED complement of "
        "stats_mann_whitney_u — does each user's purchase mean exceed "
        "their own view mean?  Pairing is per user (one hash agg), the "
        "difference of means is cleared of division (d2 = s_p*n_v - "
        "s_v*n_p — exact sign and magnitude), zeros drop per the "
        "classic procedure, and |d|-grain doubled midranks (the MWU "
        "trick) make W+ an exact integer (reported doubled).  The "
        "normal approximation applies the standard tie correction "
        "sum(t^3-t)/48.  One corpus scan; everything after runs at "
        "user then |d|-value grain."
    ),
)
def stats_wilcoxon_signed_rank(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    vc = F.round(F.col("value") * 100).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", vc))
        .cast("long")
        .alias("s_p"),
        F.sum(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("n_p"),
        F.sum(F.when(F.col("event_type") == "view", vc))
        .cast("long")
        .alias("s_v"),
        F.sum(F.when(F.col("event_type") == "view", 1))
        .cast("long")
        .alias("n_v"),
    )
    diffs = per_user.filter(
        F.col("n_p").isNotNull() & F.col("n_v").isNotNull()
    ).select(
        (F.col("s_p") * F.col("n_v") - F.col("s_v") * F.col("n_p")).alias("d2")
    )
    vt = (
        diffs.filter(F.col("d2") != 0)
        .groupBy(F.abs("d2").alias("a"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum(F.when(F.col("d2") > 0, 1).otherwise(0))
            .cast("long")
            .alias("c_pos"),
        )
    )
    wr = W.orderBy("a").rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = vt.select(
        "c",
        "c_pos",
        (2 * (F.sum("c").over(wr) - F.col("c")) + F.col("c") + 1).alias("r2"),
    )
    m = ranked.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c_pos") * F.col("r2")).cast("long").alias("w_plus_x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie3"),
    )
    nd = F.col("n").cast("double")
    return m.select(
        "n",
        F.col("w_plus_x2").cast("long").alias("w_plus_x2"),
        F.round(
            (F.col("w_plus_x2").cast("double") / 2 - nd * (F.col("n") + 1) / 4)
            / F.sqrt(
                nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24
                - F.col("tie3").cast("double") / 48
            ),
            6,
        ).alias("z_stat"),
    )


_BH_B = 32


@register(
    "stats_benjamini_hochberg_fdr",
    oracle=f"""
    WITH pool AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS v,
               CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS g
        FROM events
    ),
    obs AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN g = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN g = 0 THEN v ELSE 0 END) AS BIGINT) AS s0,
               CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
        FROM pool GROUP BY event_type
    ),
    fan AS (
        SELECT p.event_type, p.v, b.b,
               CASE WHEN ('0x' || substr(md5(concat(
                        CAST(p.event_id AS VARCHAR), '-',
                        CAST(b.b AS VARCHAR))), 1, 8))::BIGINT % 2 = 1
                    THEN 1 ELSE 0 END AS rg
        FROM pool p
        CROSS JOIN (SELECT unnest(generate_series(0, {_BH_B - 1})) AS b) b
    ),
    reps AS (
        SELECT event_type, b,
               CAST(SUM(CASE WHEN rg = 1 THEN v ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN rg = 1 THEN 1 ELSE 0 END)
               - CAST(SUM(CASE WHEN rg = 0 THEN v ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN rg = 0 THEN 1 ELSE 0 END) AS rep_diff
        FROM fan GROUP BY event_type, b
    ),
    pvals AS (
        SELECT o.event_type,
               CAST(1 + COUNT(CASE WHEN abs(r.rep_diff) >=
                       abs(CAST(o.s1 AS DOUBLE) / o.n1
                           - CAST(o.s0 AS DOUBLE) / o.n0) THEN 1 END)
                    AS BIGINT) AS k1
        FROM obs o JOIN reps r ON r.event_type = o.event_type
        GROUP BY o.event_type
    ),
    ranked AS (
        SELECT event_type, k1,
               CAST(k1 AS DOUBLE) / ({_BH_B} + 1) AS p_raw,
               row_number() OVER (ORDER BY k1, event_type) AS i,
               (SELECT COUNT(*) FROM pvals) AS m
        FROM pvals
    ),
    adj AS (
        SELECT event_type, p_raw,
               MIN(least(p_raw * m / i, 1.0)) OVER (
                   ORDER BY i DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS p_bh
        FROM ranked
    )
    SELECT event_type, round(p_raw, 6) AS p_raw, round(p_bh, 6) AS p_bh,
           p_bh <= 0.10 AS rejected_at_10pct
    FROM adj ORDER BY event_type
    """,
    tags=("stats", "agg", "sample"),
    doc=(
        f"Benjamini-Hochberg FDR correction (1995) over a FAMILY of "
        f"per-type randomization tests (weekend-vs-weekday value "
        f"shift, B = {_BH_B} md5-keyed reassignments each): the "
        "multiple-testing discipline a metrics platform needs when it "
        "screens every segment at once.  Raw p-values are EXACT "
        "fractions (k+1)/(B+1) from integer exceedance counts — both "
        "engines draw identical reassignments — and the BH step-up "
        "adjustment is the reverse running min of p*m/i over the "
        "bounded family, so even the adjusted p-values replay cell-"
        "exact.  One corpus scan fans out all types' replicates; "
        "everything after is family-sized."
    ),
)
def stats_benjamini_hochberg_fdr(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    pool = materialize(
        e.select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
            F.when(F.dayofweek(F.to_date("ts")).isin(1, 7), 1)
            .otherwise(0)
            .alias("g"),
        ),
        "stats_benjamini_hochberg_fdr pool: observed stats and the permutation fan",
    )
    obs = pool.groupBy("event_type").agg(
        F.sum(F.when(F.col("g") == 1, F.col("v")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("v")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long").alias("n0"),
    )
    fan = pool.select(
        "event_type",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_BH_B - 1))).alias("b"),
        "event_id",
    ).select(
        "event_type",
        "v",
        "b",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "-",
                            F.col("event_id").cast("string"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("rg"),
    )
    reps = fan.groupBy("event_type", "b").agg(
        (
            F.sum(F.when(F.col("rg") == 1, F.col("v")).otherwise(0)).cast(
                "double"
            )
            / F.sum(F.when(F.col("rg") == 1, 1).otherwise(0))
            - F.sum(F.when(F.col("rg") == 0, F.col("v")).otherwise(0)).cast(
                "double"
            )
            / F.sum(F.when(F.col("rg") == 0, 1).otherwise(0))
        ).alias("rep_diff")
    )
    diff_obs = F.abs(
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s0").cast("double") / F.col("n0")
    )
    pvals = (
        obs.join(reps, "event_type")
        .groupBy("event_type")
        .agg(
            (
                1
                + F.count(
                    F.when(F.abs(F.col("rep_diff")) >= diff_obs, 1)
                )
            )
            .cast("long")
            .alias("k1")
        )
    )
    m_tot = pvals.agg(F.count(F.lit(1)).cast("long").alias("m"))
    ranked = (
        pvals.crossJoin(F.broadcast(m_tot))
        .select(
            "event_type",
            (F.col("k1").cast("double") / (_BH_B + 1)).alias("p_raw"),
            F.row_number()
            .over(W.orderBy("k1", "event_type"))
            .alias("i"),
            "m",
        )
    )
    wrev = W.orderBy(F.col("i").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    adj = ranked.select(
        "event_type",
        "p_raw",
        F.min(
            F.least(F.col("p_raw") * F.col("m") / F.col("i"), F.lit(1.0))
        )
        .over(wrev)
        .alias("p_bh"),
    )
    return adj.select(
        "event_type",
        F.round("p_raw", 6).alias("p_raw"),
        F.round("p_bh", 6).alias("p_bh"),
        (F.col("p_bh") <= 0.10).alias("rejected_at_10pct"),
    ).orderBy("event_type")


@register(
    "stats_cohens_d_effect_sizes",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
               CAST(SUM(CAST(round(value * 100) AS HUGEINT)
                        * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT)
                 AS ss
        FROM events GROUP BY event_type
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           round((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                 / 100, 6) AS mean_diff,
           round(((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                  / sqrt((
                      (CAST(a.ss AS DOUBLE)
                       - CAST(a.s AS DOUBLE) * a.s / a.n)
                      + (CAST(b.ss AS DOUBLE)
                         - CAST(b.s AS DOUBLE) * b.s / b.n)
                    ) / (a.n + b.n - 2))), 6) AS cohens_d
    FROM m a JOIN m b ON a.event_type < b.event_type
    ORDER BY type_a, type_b
    """,
    tags=("stats", "agg"),
    doc=(
        "Cohen's d standardized effect size for EVERY event-type pair "
        "(pooled-SD denominator): the magnitude companion to the "
        "t/z/MWU significance battery — at 100 TB almost everything is "
        "'significant', so effect size is the decision-grade number.  "
        "One hash agg to exact integer moments per type (HUGEINT/"
        "decimal squared sums), then the k^2/2 pair grid evaluates on "
        "identical doubles — corpus touched once."
    ),
)
def stats_cohens_d_effect_sizes(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    m = materialize(
        e.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(vc).cast("long").alias("s"),
            F.sum((vc * vc).cast("decimal(38,0)")).alias("ss"),
        ),
        "stats_cohens_d_effect_sizes moments: both pair-grid sides",
    )
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("ss").alias("ssa"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("ss").alias("ssb"),
    )
    mean_a = F.col("sa").cast("double") / F.col("na")
    mean_b = F.col("sb").cast("double") / F.col("nb")
    ssd_a = F.col("ssa").cast("double") - F.col("sa").cast("double") * F.col(
        "sa"
    ) / F.col("na")
    ssd_b = F.col("ssb").cast("double") - F.col("sb").cast("double") * F.col(
        "sb"
    ) / F.col("nb")
    pooled = F.sqrt((ssd_a + ssd_b) / (F.col("na") + F.col("nb") - 2))
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.round((mean_a - mean_b) / 100, 6).alias("mean_diff"),
            F.round((mean_a - mean_b) / pooled, 6).alias("cohens_d"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "stats_roc_auc",
    oracle="""
    WITH scored AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS score,
               CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
        FROM embeddings
    ),
    s AS (
        SELECT score,
               CAST(SUM(pos) AS BIGINT) AS c1,
               CAST(SUM(1 - pos) AS BIGINT) AS c2
        FROM scored GROUP BY score
    ),
    ranked AS (
        SELECT c1, c2,
               2 * (SUM(c1 + c2) OVER (ORDER BY score) - (c1 + c2))
                 + (c1 + c2) + 1 AS r2
        FROM s
    ),
    m AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n_pos,
               CAST(SUM(c2) AS BIGINT) AS n_neg,
               CAST(SUM(c1 * r2) AS BIGINT) AS r1_x2
        FROM ranked
    )
    SELECT n_pos, n_neg,
           CAST(r1_x2 - n_pos * (n_pos + 1) AS BIGINT) AS u_x2,
           round(CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2.0 * n_pos * n_neg), 6) AS auc,
           round(CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / (CAST(n_pos AS DOUBLE) * n_neg) - 1.0, 6) AS gini_coef
    FROM m
    """,
    tags=("stats", "mlprep"),
    doc=(
        "ROC-AUC of a scalar score against a binary label via the "
        "rank-statistic identity AUC = U/(n+ n-) (Hanley-McNeil 1982) "
        "— the model-evaluation primitive a training pipeline runs on "
        "every candidate feature/checkpoint.  Reuses the Mann-Whitney "
        "doubled-midrank machinery (ties stay exact: u_x2 is the "
        "doubled U, always integer), so the whole computation is one "
        "hash agg to SCORE grain + one window over distinct scores — "
        "never a sort of raw rows — and AUC/Gini evaluate once on "
        "identical doubles.  Score = first embedding coordinate, "
        "positive class = odd label (a deliberately weak signal; the "
        "operator is the deliverable, not the classifier)."
    ),
)
def stats_roc_auc(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings").select(
        F.col("embedding")[0].cast("double").alias("score"),
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("pos"),
    )
    s = e.groupBy("score").agg(
        F.sum("pos").cast("long").alias("c1"),
        F.sum(1 - F.col("pos")).cast("long").alias("c2"),
    )
    # score is a RAW double — the one allowlisted grain that was
    # neither constant nor domain-quantized; the doubled-midrank
    # cumulative now runs on the partitioned two-pass prefix sum
    # instead of a single-partition window (r15).
    from ..operators.prefix import partitioned_prefix_sum

    t = F.col("c1") + F.col("c2")
    cum = partitioned_prefix_sum(
        s.withColumn("t", t.cast("long")), ["score"], sum_cols=["t"]
    )
    ranked = cum.select(
        "c1",
        "c2",
        (2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1).alias("r2"),
    )
    m = ranked.agg(
        F.sum("c1").cast("long").alias("n_pos"),
        F.sum("c2").cast("long").alias("n_neg"),
        F.sum(F.col("c1") * F.col("r2")).cast("long").alias("r1_x2"),
    )
    u_x2 = F.col("r1_x2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return m.select(
        "n_pos",
        "n_neg",
        u_x2.alias("u_x2"),
        F.round(
            u_x2.cast("double")
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
        F.round(
            u_x2.cast("double")
            / (F.col("n_pos").cast("double") * F.col("n_neg"))
            - 1.0,
            6,
        ).alias("gini_coef"),
    )


@register(
    "agg_weighted_percentiles",
    oracle="""
    WITH grain AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT v, w,
               SUM(w) OVER (ORDER BY v) AS cw,
               SUM(w) OVER () AS tw
        FROM grain
    ),
    picks AS (
        SELECT p.p, MIN(c.v) AS v_cents
        FROM cum c
        JOIN (VALUES (25), (50), (75), (90), (99)) p(p)
          -- weighted percentile boundary compared with exact integers:
          -- cw >= ceil(p/100 * tw)  <=>  100*cw >= p*tw rounded up
          ON 100 * c.cw >= p.p * c.tw
        GROUP BY p.p
    )
    SELECT CAST(p AS BIGINT) AS pct, v_cents / 100.0 AS value
    FROM picks ORDER BY pct
    """,
    tags=("agg", "stats"),
    doc=(
        "Quantity-WEIGHTED price percentiles (p25/50/75/90/99): the "
        "inventory-weighted distribution summary percentile_cont "
        "cannot produce (it weights rows equally).  clean_quantile_bins "
        "discipline: one hash agg to VALUE grain carrying the weight "
        "sum, one cumulative window over distinct values — never raw "
        "rows — and the percentile boundary test is the cross-"
        "multiplied integer 100*cw >= p*tw, exact on both engines."
    ),
)
def agg_weighted_percentiles(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    grain = li.groupBy(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("v").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = grain.select(
        "v",
        F.sum("w").over(wv).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (25, 50, 75, 90, 99)])).alias("p")
    )
    return (
        cum.crossJoin(F.broadcast(pcts))
        .where(100 * F.col("cw") >= F.col("p") * F.col("tw"))
        .groupBy(F.col("p").cast("long").alias("pct"))
        .agg(F.min("v").alias("v_cents"))
        .select("pct", (F.col("v_cents") / 100.0).alias("value"))
        .orderBy("pct")
    )


@register(
    "stats_kendall_tau",
    oracle="""
    WITH cells AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_discount * 100) AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                               OR (a.x > b.x AND a.y > b.y)
                             THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                               OR (a.x > b.x AND a.y < b.y)
                             THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d2
        FROM cells a JOIN cells b
          ON a.x < b.x OR (a.x = b.x AND a.y < b.y)
    ),
    ties AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(n * (n - 1)) AS BIGINT) AS cell2
        FROM cells
    ),
    tx AS (
        SELECT CAST(SUM(s * (s - 1)) AS BIGINT) AS x2 FROM (
            SELECT CAST(SUM(n) AS BIGINT) AS s FROM cells GROUP BY x)
    ),
    ty AS (
        SELECT CAST(SUM(s * (s - 1)) AS BIGINT) AS y2 FROM (
            SELECT CAST(SUM(n) AS BIGINT) AS s FROM cells GROUP BY y)
    )
    SELECT p.c2 AS concordant, p.d2 AS discordant,
           round((CAST(p.c2 AS DOUBLE) - p.d2)
                 / (sqrt(CAST(t.nn * (t.nn - 1) - x.x2 AS DOUBLE) / 2)
                    * sqrt(CAST(t.nn * (t.nn - 1) - y.y2 AS DOUBLE) / 2)),
                 6) AS tau_b
    FROM pairs p CROSS JOIN ties t CROSS JOIN tx x CROSS JOIN ty y
    """,
    tags=("stats", "agg"),
    doc=(
        "Kendall tau-b rank correlation between quantity and discount "
        "— the third rank-statistic axis next to Pearson and Spearman, "
        "with full tie correction.  The naive O(N^2) pair walk "
        "collapses to the (x, y) CONTINGENCY grain first (one hash "
        "agg; <= 600 cells here regardless of row count), so "
        "concordant/discordant masses are exact integer sums over a "
        "bounded cell self-join, tie terms come from the marginal "
        "grains, and only the final ratio touches floats — the "
        "value-grain discipline that makes an all-pairs statistic "
        "feasible at 100 TB on low-cardinality features."
    ),
)
def stats_kendall_tau(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    cells = materialize(
        li.groupBy(
            F.col("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_discount") * 100).cast("long").alias("y"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n")),
        "stats_kendall_tau cells: both pair-grid sides",
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("n").alias("nb")
    )
    joined = a.join(
        b,
        (F.col("xa") < F.col("xb"))
        | ((F.col("xa") == F.col("xb")) & (F.col("ya") < F.col("yb"))),
    )
    conc = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb")))
    )
    disc = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb")))
    )
    pairs = joined.agg(
        F.sum(F.when(conc, F.col("na") * F.col("nb")).otherwise(0))
        .cast("long")
        .alias("c2"),
        F.sum(F.when(disc, F.col("na") * F.col("nb")).otherwise(0))
        .cast("long")
        .alias("d2"),
    )
    ties = cells.agg(F.sum("n").cast("long").alias("nn"))
    tx = (
        cells.groupBy("x")
        .agg(F.sum("n").cast("long").alias("s"))
        .agg(F.sum(F.col("s") * (F.col("s") - 1)).cast("long").alias("x2"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("n").cast("long").alias("s"))
        .agg(F.sum(F.col("s") * (F.col("s") - 1)).cast("long").alias("y2"))
    )
    nn = F.col("nn")
    return (
        pairs.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("c2").alias("concordant"),
            F.col("d2").alias("discordant"),
            F.round(
                (F.col("c2").cast("double") - F.col("d2"))
                / (
                    F.sqrt((nn * (nn - 1) - F.col("x2")).cast("double") / 2)
                    * F.sqrt((nn * (nn - 1) - F.col("y2")).cast("double") / 2)
                ),
                6,
            ).alias("tau_b"),
        )
    )


@register(
    "stats_cramers_v",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS r, o_orderstatus AS c,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS nr FROM cells GROUP BY r),
    ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS nc FROM cells GROUP BY c),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    terms AS (
        -- chi2 term (O - E)^2/E with E = nr*nc/n, cleared to the exact
        -- integer form (O*n - nr*nc)^2 / (nr*nc*n), nano-quantized
        -- BEFORE the sum
        SELECT CAST(round(1e9
                   * (CAST(cl.o * n.n - r.nr * c.nc AS DOUBLE)
                      * (cl.o * n.n - r.nr * c.nc))
                   / (CAST(r.nr AS DOUBLE) * c.nc * n.n)) AS BIGINT)
                 AS chi_nano
        FROM cells cl JOIN rt r USING (r) JOIN ct c USING (c) CROSS JOIN n
    ),
    dims AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS nrow,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS ncol
    )
    SELECT CAST(SUM(t.chi_nano) AS BIGINT) AS chi2_nano,
           round(sqrt((CAST(SUM(t.chi_nano) AS DOUBLE) / 1e9)
                      / (CAST(MIN(n.n) AS DOUBLE)
                         * (least(MIN(d.nrow), MIN(d.ncol)) - 1))), 6)
             AS cramers_v
    FROM terms t CROSS JOIN n CROSS JOIN dims d
    """,
    tags=("stats", "agg"),
    doc=(
        "Cramér's V association between order priority and status — "
        "the [0,1]-normalized effect size the raw chi-square "
        "(stats_chi_square_independence) lacks, comparable across "
        "tables of any size.  Denominator-cleared integer chi-square "
        "terms (O*n - nr*nc)^2 / (nr*nc*n), nano-quantized before the "
        "order-free sum; one contingency hash agg + broadcast "
        "marginals."
    ),
)
def stats_cramers_v(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    cells = materialize(
        o.groupBy(
            F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
        ).agg(F.count(F.lit(1)).cast("long").alias("o")),
        "stats_cramers_v cells: row, column and grand totals",
    )
    rt = cells.groupBy("r").agg(F.sum("o").cast("long").alias("nr"))
    ct = cells.groupBy("c").agg(F.sum("o").cast("long").alias("nc"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    dims = rt.agg(F.count(F.lit(1)).cast("long").alias("nrow")).crossJoin(
        ct.agg(F.count(F.lit(1)).cast("long").alias("ncol"))
    )
    diff = F.col("o") * F.col("n") - F.col("nr") * F.col("nc")
    terms = (
        cells.join(rt, "r")
        .join(ct, "c")
        .crossJoin(F.broadcast(n))
        .select(
            F.round(
                F.lit(1e9)
                * (diff.cast("double") * diff)
                / (F.col("nr").cast("double") * F.col("nc") * F.col("n"))
            )
            .cast("long")
            .alias("chi_nano")
        )
    )
    agg = terms.agg(F.sum("chi_nano").cast("long").alias("chi2_nano"))
    return (
        agg.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(dims))
        .select(
            "chi2_nano",
            F.round(
                F.sqrt(
                    (F.col("chi2_nano").cast("double") / 1e9)
                    / (
                        F.col("n").cast("double")
                        * (F.least(F.col("nrow"), F.col("ncol")) - 1)
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


@register(
    "stats_theil_u",
    oracle="""
    WITH base AS (
        SELECT event_type AS x, CAST(strftime(ts, '%H') AS BIGINT) AS y
        FROM events
    ),
    cells AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY x, y
    ),
    xt AS (SELECT x, CAST(SUM(n) AS BIGINT) AS nx FROM cells GROUP BY x),
    yt AS (SELECT y, CAST(SUM(n) AS BIGINT) AS ny FROM cells GROUP BY y),
    n AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells),
    hx AS (
        -- H(X) in nano-nats, each term quantized before the sum
        SELECT CAST(SUM(CAST(round(1e9 * (CAST(nx AS DOUBLE) / n.n)
                                   * ln(CAST(n.n AS DOUBLE) / nx))
                             AS BIGINT)) AS BIGINT) AS h_nano
        FROM xt CROSS JOIN n
    ),
    hxy AS (
        -- H(X|Y) = sum over cells of p(x,y) * ln(p(y)/p(x,y))
        SELECT CAST(SUM(CAST(round(1e9 * (CAST(c.n AS DOUBLE) / n.n)
                                   * ln(CAST(y.ny AS DOUBLE) / c.n))
                             AS BIGINT)) AS BIGINT) AS h_nano
        FROM cells c JOIN yt y USING (y) CROSS JOIN n
    )
    SELECT round(hx.h_nano / 1e9, 6) AS h_x,
           round(hxy.h_nano / 1e9, 6) AS h_x_given_y,
           round(CAST(hx.h_nano - hxy.h_nano AS DOUBLE) / hx.h_nano, 6)
             AS theil_u
    FROM hx CROSS JOIN hxy
    """,
    tags=("stats", "agg"),
    doc=(
        "Theil's uncertainty coefficient U(event_type | hour) = "
        "(H(X) - H(X|Y)) / H(X) — the ASYMMETRIC categorical "
        "association measure (how much does knowing the hour reduce "
        "event-type uncertainty), complementing the symmetric "
        "Cramér's V and mutual information.  Entropy terms quantize "
        "to nano-nats at cell grain before order-free integer sums — "
        "the text_token_entropy/JS-divergence discipline over a "
        "contingency table."
    ),
)
def stats_theil_u(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    base = e.select(
        F.col("event_type").alias("x"),
        F.date_format("ts", "HH").cast("long").alias("y"),
    )
    cells = materialize(
        base.groupBy("x", "y").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ),
        "stats_theil_u cells: both marginals and the total",
    )
    xt = cells.groupBy("x").agg(F.sum("n").cast("long").alias("nx"))
    yt = cells.groupBy("y").agg(F.sum("n").cast("long").alias("ny"))
    n = cells.agg(F.sum("n").cast("long").alias("n"))
    hx = (
        xt.crossJoin(F.broadcast(n))
        .select(
            F.round(
                F.lit(1e9)
                * (F.col("nx").cast("double") / F.col("n"))
                * F.log(F.col("n").cast("double") / F.col("nx"))
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").cast("long").alias("hx_nano"))
    )
    # cells.n and the grand total both want the name "n" — alias the
    # total before the conditional-entropy join
    tot = n.select(F.col("n").alias("nn"))
    hxy = (
        cells.join(yt, "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.lit(1e9)
                * (F.col("n").cast("double") / F.col("nn"))
                * F.log(F.col("ny").cast("double") / F.col("n"))
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").cast("long").alias("hxy_nano"))
    )
    return hx.crossJoin(hxy).select(
        F.round(F.col("hx_nano") / 1e9, 6).alias("h_x"),
        F.round(F.col("hxy_nano") / 1e9, 6).alias("h_x_given_y"),
        F.round(
            (F.col("hx_nano") - F.col("hxy_nano")).cast("double")
            / F.col("hx_nano"),
            6,
        ).alias("theil_u"),
    )


@register(
    "events_did_estimator",
    oracle=f"""
    WITH mid AS (
        SELECT CAST(MIN(CAST(ts AS DATE)) AS DATE)
                 + CAST((date_diff('day', MIN(CAST(ts AS DATE)),
                                   MAX(CAST(ts AS DATE))) + 1) // 2 AS INT)
                 AS cutover
        FROM events
    ),
    assigned AS (
        SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
                 % 2 AS variant,
               CASE WHEN CAST(ts AS DATE) >= m.cutover THEN 1 ELSE 0 END
                 AS post,
               {cents_sql('value')} AS v_c
        FROM events CROSS JOIN mid m
        WHERE event_type = 'purchase'
    ),
    cells AS (
        SELECT variant, post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v_c) AS BIGINT) AS s
        FROM assigned GROUP BY variant, post
    ),
    w AS (
        SELECT MAX(CASE WHEN variant = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t_post,
               MAX(CASE WHEN variant = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t_pre,
               MAX(CASE WHEN variant = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c_post,
               MAX(CASE WHEN variant = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c_pre
        FROM cells
    )
    SELECT round(t_pre / 100, 6) AS treat_pre,
           round(t_post / 100, 6) AS treat_post,
           round(c_pre / 100, 6) AS control_pre,
           round(c_post / 100, 6) AS control_post,
           round(((t_post - t_pre) - (c_post - c_pre)) / 100, 6)
             AS did_estimate
    FROM w
    """,
    tags=("events", "stats", "analytics"),
    doc=(
        "Difference-in-differences estimator: md5-assigned variants x "
        "pre/post the span midpoint, purchase-value means per cell, "
        "DiD = (treat_post - treat_pre) - (control_post - "
        "control_pre) — the parallel-trends causal workhorse when "
        "randomization isn't clean.  One hash agg to the 2x2 cell "
        "grain carrying exact integer sums; the four means and the "
        "estimate evaluate once on identical doubles (null here by "
        "construction: assignment is orthogonal to time)."
    ),
)
def events_did_estimator(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    allev = table(spark, sf_dir, "events")
    mid = allev.agg(
        F.date_add(
            F.min(F.col("ts").cast("date")),
            F.floor(
                (
                    F.datediff(
                        F.max(F.col("ts").cast("date")),
                        F.min(F.col("ts").cast("date")),
                    )
                    + 1
                )
                / 2
            ).cast("int"),
        ).alias("cutover")
    )
    assigned = e.crossJoin(F.broadcast(mid)).select(
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 2),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("variant"),
        F.when(F.col("ts").cast("date") >= F.col("cutover"), 1)
        .otherwise(0)
        .alias("post"),
        cents("value").alias("v_c"),
    )
    cells = assigned.groupBy("variant", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_c").cast("long").alias("s"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    w = cells.agg(
        F.max(F.when((F.col("variant") == 1) & (F.col("post") == 1), mean)).alias("t_post"),
        F.max(F.when((F.col("variant") == 1) & (F.col("post") == 0), mean)).alias("t_pre"),
        F.max(F.when((F.col("variant") == 0) & (F.col("post") == 1), mean)).alias("c_post"),
        F.max(F.when((F.col("variant") == 0) & (F.col("post") == 0), mean)).alias("c_pre"),
    )
    return w.select(
        F.round(F.col("t_pre") / 100, 6).alias("treat_pre"),
        F.round(F.col("t_post") / 100, 6).alias("treat_post"),
        F.round(F.col("c_pre") / 100, 6).alias("control_pre"),
        F.round(F.col("c_post") / 100, 6).alias("control_post"),
        F.round(
            ((F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")))
            / 100,
            6,
        ).alias("did_estimate"),
    )


@register(
    "events_cuped_variance_reduction",
    oracle=f"""
    WITH mid AS (
        SELECT CAST(MIN(CAST(ts AS DATE)) AS DATE)
                 + CAST((date_diff('day', MIN(CAST(ts AS DATE)),
                                   MAX(CAST(ts AS DATE))) + 1) // 2 AS INT)
                 AS cutover
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN CAST(ts AS DATE) < m.cutover
                             THEN {cents_sql('value')} ELSE 0 END)
                    AS HUGEINT) AS x,
               CAST(SUM(CASE WHEN CAST(ts AS DATE) >= m.cutover
                             THEN {cents_sql('value')} ELSE 0 END)
                    AS HUGEINT) AS y
        FROM events CROSS JOIN mid m
        WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           -- theta = cov/var via the cleared integer moments
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta,
           round(CAST(n * syy - sy * sy AS DOUBLE)
                 / CAST(n AS DOUBLE) / n / 10000, 6) AS var_y,
           -- var(Y - theta X) = var(Y) - cov^2/var(X), same moments
           round((CAST(n * syy - sy * sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    * (CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)))
                 / CAST(n AS DOUBLE) / n / 10000, 6) AS var_y_adj,
           round((CAST(n * sxy - sx * sy AS DOUBLE)
                  * (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)))
                 / CAST(n * syy - sy * sy AS DOUBLE), 6)
             AS variance_reduction
    FROM m
    """,
    tags=("events", "stats", "analytics"),
    doc=(
        "CUPED variance reduction (Deng et al. 2013): pre-period "
        "purchase spend as the covariate for post-period spend, theta "
        "= cov(X,Y)/var(X), and the adjusted-metric variance via the "
        "closed form var(Y') = var(Y) - cov^2/var(X) — the "
        "experimentation-platform technique that shrinks A/B "
        "confidence intervals for free.  ONE user-grain agg collects "
        "exact 128-bit integer moments; theta, both variances, and "
        "the reduction fraction all evaluate from the same five "
        "cleared moments on identical doubles — no second data pass."
    ),
)
def events_cuped_variance_reduction(spark, sf_dir):
    dec = "decimal(38,0)"
    allev = table(spark, sf_dir, "events")
    mid = allev.agg(
        F.date_add(
            F.min(F.col("ts").cast("date")),
            F.floor(
                (
                    F.datediff(
                        F.max(F.col("ts").cast("date")),
                        F.min(F.col("ts").cast("date")),
                    )
                    + 1
                )
                / 2
            ).cast("int"),
        ).alias("cutover")
    )
    per_user = (
        allev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts").cast("date") < F.col("cutover"),
                    cents("value"),
                ).otherwise(0)
            )
            .cast(dec)
            .alias("x"),
            F.sum(
                F.when(
                    F.col("ts").cast("date") >= F.col("cutover"),
                    cents("value"),
                ).otherwise(0)
            )
            .cast(dec)
            .alias("y"),
        )
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(dec).alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("sxy"),
    )
    n = F.col("n")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast(dec).cast("double")
    varx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast(dec).cast("double")
    vary = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast(dec).cast("double")
    nd = n.cast("double")
    return m.select(
        n.cast("long").alias("n_users"),
        F.round(cov / varx, 6).alias("theta"),
        F.round(vary / nd / nd / 10000, 6).alias("var_y"),
        F.round((vary - cov * (cov / varx)) / nd / nd / 10000, 6).alias(
            "var_y_adj"
        ),
        F.round(cov * (cov / varx) / vary, 6).alias("variance_reduction"),
    )


@register(
    "stats_power_sample_size",
    oracle="""
    WITH conv AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                         AND value > 90 THEN user_id END)
                    AS BIGINT) AS k,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
        FROM events
    ),
    lifts AS (SELECT * FROM (VALUES (5), (10), (20)) l(lift_pct))
    SELECT l.lift_pct,
           round(CAST(c.k AS DOUBLE) / c.n, 6) AS base_rate,
           -- two-proportion z-test n per arm, alpha=.05 two-sided,
           -- power=.80: ((z_a*sqrt(2*pb*(1-pb)) +
           -- z_b*sqrt(p1(1-p1)+p2(1-p2)))/delta)^2, ceil'd
           CAST(ceil(pow(
               (1.959964 * sqrt(2 * ((CAST(c.k AS DOUBLE) / c.n)
                                     * (1 + l.lift_pct / 200.0))
                                  * (1 - (CAST(c.k AS DOUBLE) / c.n)
                                         * (1 + l.lift_pct / 200.0)))
                + 0.841621 * sqrt(
                      (CAST(c.k AS DOUBLE) / c.n)
                      * (1 - CAST(c.k AS DOUBLE) / c.n)
                      + (CAST(c.k AS DOUBLE) / c.n) * (1 + l.lift_pct / 100.0)
                        * (1 - (CAST(c.k AS DOUBLE) / c.n)
                               * (1 + l.lift_pct / 100.0))))
               / ((CAST(c.k AS DOUBLE) / c.n) * (l.lift_pct / 100.0)), 2))
                AS BIGINT) AS n_per_arm
    FROM conv c CROSS JOIN lifts l
    ORDER BY l.lift_pct
    """,
    tags=("stats", "analytics"),
    doc=(
        "A/B sample-size calculator: users per arm to detect a "
        "5/10/20% relative lift on the high-value-purchase conversion "
        "rate at alpha=0.05 (two-sided), power=0.80 — the experiment-"
        "design step before stats_proportion_ztest runs.  Base rate "
        "from one exact distinct-user agg; the pooled/unpooled "
        "two-proportion formula evaluates on identical doubles with "
        "fixed z constants (1.959964, 0.841621), so the ceil'd "
        "integers replay exactly."
    ),
)
def stats_power_sample_size(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    conv = e.agg(
        F.countDistinct(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90),
                F.col("user_id"),
            )
        )
        .cast("long")
        .alias("k"),
        F.countDistinct("user_id").cast("long").alias("n"),
    )
    lifts = spark.range(1).select(
        F.explode(F.array(F.lit(5), F.lit(10), F.lit(20))).alias("lift_pct")
    )
    p = F.col("k").cast("double") / F.col("n")
    lift = F.col("lift_pct")
    pb = p * (1 + lift / 200.0)
    p2 = p * (1 + lift / 100.0)
    delta = p * (lift / 100.0)
    n_arm = F.ceil(
        F.pow(
            (
                1.959964 * F.sqrt(2 * pb * (1 - pb))
                + 0.841621 * F.sqrt(p * (1 - p) + p2 * (1 - p2))
            )
            / delta,
            F.lit(2),
        )
    ).cast("long")
    return (
        conv.crossJoin(F.broadcast(lifts))
        .select(
            F.col("lift_pct").cast("int").alias("lift_pct"),
            F.round(p, 6).alias("base_rate"),
            n_arm.alias("n_per_arm"),
        )
        .orderBy("lift_pct")
    )


_DEMING_SLOPE_SQL = (
    "round((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx) + 4 * cxy * cxy))"
    " / (2 * cxy), 6)"
)
# intercept is INTEGER cents: at sf0.1 the intercept magnitude (~3.7e10)
# reaches the region where a 6-decimal rounding grain is finer than the
# double spacing (~3.8e-6), and Spark's HALF_UP-BigDecimal round vs
# DuckDB's multiply-round-divide disagree by one ulp exactly there
# (found by the r11 repr-exact sf0.1 sweep; the sub-cent digits of a
# 1e10-cent intercept are noise anyway).  Slope stays at 6 decimals —
# its magnitude (~1e7) keeps the grain 500x coarser than double spacing.
_DEMING_ICEPT_SQL = (
    "CAST(round((s_y - ((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)"
    " + 4 * cxy * cxy)) / (2 * cxy)) * s_x) / n) AS BIGINT)"
)


@register(
    "stats_deming_regression",
    oracle=f"""
    WITH q AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS HUGEINT) AS xv,
               CAST(round(l_extendedprice * 100) AS HUGEINT) AS yv
        FROM lineitem
    ),
    sums AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(xv) AS DOUBLE) AS s_x, CAST(SUM(yv) AS DOUBLE) AS s_y,
               CAST(SUM(xv * xv) AS DOUBLE) AS s_xx,
               CAST(SUM(yv * yv) AS DOUBLE) AS s_yy,
               CAST(SUM(xv * yv) AS DOUBLE) AS s_xy
        FROM q GROUP BY l_returnflag
    ),
    cen AS (
        SELECT l_returnflag, n, s_x, s_y,
               s_xx - s_x * s_x / n AS cxx,
               s_yy - s_y * s_y / n AS cyy,
               s_xy - s_x * s_y / n AS cxy
        FROM sums
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           {_DEMING_SLOPE_SQL} AS slope,
           {_DEMING_ICEPT_SQL} AS intercept_cents
    FROM cen ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
    doc=(
        "Deming (errors-in-variables, delta = 1) orthogonal regression "
        "of price on quantity per returnflag — the fit to use when BOTH "
        "columns carry measurement noise, where OLS attenuates the "
        "slope.  Closed form slope = (Syy' - Sxx' + sqrt((Syy' - Sxx')^2 "
        "+ 4 Sxy'^2)) / (2 Sxy') over CENTERED second moments, all "
        "derived from the same exact DECIMAL(38) integer sufficient "
        "statistics as stats_ols_price_on_quantity: one mergeable hash "
        "agg over 100 TB, then a per-group constant-time double "
        "evaluation shared verbatim with the oracle (Deming 1943)."
    ),
)
def stats_deming_regression(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    dec = "decimal(19,0)"
    x = F.round(F.col("l_quantity") * 100).cast(dec)
    y = F.round(F.col("l_extendedprice") * 100).cast(dec)
    sums = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(38,0)")).cast("double").alias("s_x"),
        F.sum(y.cast("decimal(38,0)")).cast("double").alias("s_y"),
        F.sum(x * x).cast("double").alias("s_xx"),
        F.sum(y * y).cast("double").alias("s_yy"),
        F.sum(x * y).cast("double").alias("s_xy"),
    )
    cen = sums.select(
        "l_returnflag",
        "n",
        "s_x",
        "s_y",
        (F.col("s_xx") - F.col("s_x") * F.col("s_x") / F.col("n")).alias("cxx"),
        (F.col("s_yy") - F.col("s_y") * F.col("s_y") / F.col("n")).alias("cyy"),
        (F.col("s_xy") - F.col("s_x") * F.col("s_y") / F.col("n")).alias("cxy"),
    )
    return cen.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.expr(_DEMING_SLOPE_SQL).alias("slope"),
        F.expr(_DEMING_ICEPT_SQL).alias("intercept_cents"),
    ).orderBy("l_returnflag")


@register(
    "stats_jackknife_ratio_se",
    oracle="""
    WITH q AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS BIGINT) AS xv,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS yv
        FROM lineitem
    ),
    sums AS (
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xv) AS BIGINT) AS sx, CAST(SUM(yv) AS BIGINT) AS sy
        FROM q GROUP BY l_returnflag
    ),
    loo AS (
        SELECT q.l_returnflag, s.n,
               CAST(round(CAST(s.sy - q.yv AS DOUBLE)
                          / CAST(s.sx - q.xv AS DOUBLE) * 1000000)
                    AS BIGINT) AS t
        FROM q JOIN sums s ON q.l_returnflag = s.l_returnflag
    ),
    acc AS (
        SELECT l_returnflag, CAST(MAX(n) AS DOUBLE) AS n,
               CAST(SUM(CAST(t AS HUGEINT)) AS DOUBLE) AS st,
               CAST(SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS DOUBLE)
                 AS stt
        FROM loo GROUP BY l_returnflag
    ),
    fin AS (
        SELECT a.l_returnflag, CAST(a.n AS BIGINT) AS n,
               round(CAST(s.sy AS DOUBLE) / CAST(s.sx AS DOUBLE), 6)
                 AS theta,
               round(sqrt((a.n - 1) / a.n * (a.stt - a.st * a.st / a.n))
                     / 1000000, 6) AS se_jack
        FROM acc a JOIN sums s ON a.l_returnflag = s.l_returnflag
    )
    SELECT * FROM fin ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
    doc=(
        "Delete-1 jackknife standard error of the ratio estimator "
        "theta = sum(price) / sum(quantity) per returnflag (Quenouille "
        "1956; Tukey 1958) — the survey-statistics uncertainty measure "
        "for ratios, where the naive SE formula is biased.  The n "
        "leave-one-out replicates never re-aggregate: theta_(i) = "
        "(Sy - y_i)/(Sx - x_i) is a per-row expression against the "
        "broadcast group totals, so the full jackknife is TWO hash aggs "
        "over the fact table (totals, then replicate moments) — the "
        "O(n^2) textbook resampling collapsed to O(n).  Determinism: "
        "each replicate quantizes to e6 fixed point BEFORE summation "
        "(exact DECIMAL accumulation, order-free), the same trick as "
        "events_markov_stationary; the (sum t)^2 cross term leaves "
        "integer range and is evaluated in double IDENTICALLY to the "
        "oracle."
    ),
)
def stats_jackknife_ratio_se(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    q = l.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("xv"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("yv"),
    )
    sums = q.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xv").cast("long").alias("sx"),
        F.sum("yv").cast("long").alias("sy"),
    )
    # 3 groups -> unconditionally broadcastable totals
    loo = q.join(F.broadcast(sums), "l_returnflag").select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        F.round(
            (F.col("sy") - F.col("yv")).cast("double")
            / (F.col("sx") - F.col("xv")).cast("double")
            * 1000000
        )
        .cast("long")
        .alias("t"),
    )
    acc = loo.groupBy("l_returnflag").agg(
        F.max("n").cast("double").alias("n"),
        F.max("sx").alias("sx"),
        F.max("sy").alias("sy"),
        F.sum(F.col("t").cast("decimal(38,0)")).cast("double").alias("st"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t").cast("decimal(38,0)"))
        .cast("double")
        .alias("stt"),
    )
    return acc.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sy").cast("double") / F.col("sx").cast("double"), 6).alias(
            "theta"
        ),
        F.round(
            F.sqrt(
                (F.col("n") - 1)
                / F.col("n")
                * (F.col("stt") - F.col("st") * F.col("st") / F.col("n"))
            )
            / 1000000,
            6,
        ).alias("se_jack"),
    ).orderBy("l_returnflag")


_REMOVAL_ROUNDS = 6
_REMOVAL_CHANNELS = ("click", "error", "signup", "view")


def _removal_oracle() -> str:
    layers = []
    prev = "pi0"
    for r in range(1, _REMOVAL_ROUNDS + 1):
        layers.append(f"""
    pi{r} AS MATERIALIZED (
        SELECT t.chain, t.from_state AS state,
               CAST(SUM(CAST(round(
                   CAST(CASE WHEN t.to_state = 'purchase' THEN 1000000000
                             WHEN t.to_state = 'END' THEN 0
                             WHEN t.to_state = t.chain THEN 0
                             ELSE COALESCE(p.v_e9, 0) END AS DOUBLE)
                   * t.n / t.n_from) AS BIGINT)) AS BIGINT) AS v_e9
        FROM trans_c t
        LEFT JOIN {prev} p ON t.chain = p.chain AND t.to_state = p.state
        GROUP BY 1, 2
    )""")
        prev = f"pi{r}"
    chain_rows = ", ".join(
        f"('{c}')" for c in ("FULL",) + _REMOVAL_CHANNELS
    )
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS pos
        FROM events
    ),
    fp AS (
        SELECT user_id, MIN(pos) AS p1 FROM seq
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    kept AS (
        SELECT s.user_id, s.event_type, s.pos
        FROM seq s LEFT JOIN fp ON s.user_id = fp.user_id
        WHERE fp.p1 IS NULL OR s.pos <= fp.p1
    ),
    steps AS (
        SELECT event_type AS from_state,
               COALESCE(lead(event_type) OVER (PARTITION BY user_id
                                               ORDER BY pos), 'END')
                 AS to_state
        FROM kept
    ),
    starts AS (
        SELECT 'START' AS from_state, event_type AS to_state
        FROM kept WHERE pos = 1
    ),
    trans AS MATERIALIZED (
        SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT * FROM steps WHERE from_state <> 'purchase'
              UNION ALL SELECT * FROM starts)
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT from_state, CAST(SUM(n) AS BIGINT) AS n_from
        FROM trans GROUP BY 1
    ),
    chains AS (SELECT * FROM (VALUES {chain_rows}) c(chain)),
    trans_c AS MATERIALIZED (
        SELECT ch.chain, t.from_state, t.to_state, t.n, z.n_from
        FROM trans t
        JOIN totals z ON t.from_state = z.from_state
        CROSS JOIN chains ch
    ),
    pi0 AS (
        SELECT chain, from_state AS state, CAST(0 AS BIGINT) AS v_e9
        FROM trans_c GROUP BY 1, 2
    ),
    {",".join(layers)},
    v AS (
        SELECT chain, v_e9 FROM {prev} WHERE state = 'START'
    ),
    eff AS (
        SELECT c.chain AS channel,
               f.v_e9 AS vf, c.v_e9 AS vr, f.v_e9 - c.v_e9 AS re
        FROM v c CROSS JOIN (SELECT v_e9 FROM v WHERE chain = 'FULL') f
        WHERE c.chain <> 'FULL'
    )
    SELECT channel,
           round(CAST(vf AS DOUBLE) / 1e9, 6) AS v_full,
           round(CAST(vr AS DOUBLE) / 1e9, 6) AS v_removed,
           round(CAST(re AS DOUBLE) / 1e9, 6) AS removal_effect,
           round(CAST(re AS DOUBLE)
                 / (SELECT CAST(SUM(re) AS DOUBLE) FROM eff), 6)
             AS attribution_share
    FROM eff ORDER BY channel
    """


@register(
    "events_markov_removal_attribution",
    oracle=_removal_oracle(),
    tags=("events", "stats", "iterative"),
    doc=(
        f"Markov removal-effect attribution (Anderl et al. 2016): model "
        "user paths (truncated at first purchase) as a first-order "
        "chain with START / absorbing purchase / absorbing END states, "
        "estimate P(convert) by {r} rounds of value iteration, then "
        "re-estimate with each channel knocked out (transitions into "
        "it become failures) — a channel's credit is proportional to "
        "how much conversion probability vanishes without it, the "
        "data-driven alternative to last-touch heuristics.  ONE corpus-"
        "scale window + hash agg builds the transition counts; the "
        "chain dimension (FULL + {k} removals) rides the SAME k^2-row "
        "iteration via a 5-way crossJoin of the tiny transition table, "
        "so all five chains converge in one joint loop.  Determinism: "
        "e9 fixed-point values quantize per term before exact BIGINT "
        "sums (the events_markov_stationary trick); oracle unrolls the "
        "rounds as MATERIALIZED CTEs over a VALUES chain table."
    ).format(r=_REMOVAL_ROUNDS, k=len(_REMOVAL_CHANNELS)),
)
def events_markov_removal_attribution(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("pos")
    )
    fp = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("pos").alias("p1"))
    )
    kept = seq.join(fp, "user_id", "left").filter(
        F.col("p1").isNull() | (F.col("pos") <= F.col("p1"))
    )
    wk = W.partitionBy("user_id").orderBy("pos")
    steps = kept.select(
        F.col("event_type").alias("from_state"),
        F.coalesce(F.lead("event_type").over(wk), F.lit("END")).alias("to_state"),
    ).filter(F.col("from_state") != "purchase")
    starts = kept.filter(F.col("pos") == 1).select(
        F.lit("START").alias("from_state"), F.col("event_type").alias("to_state")
    )
    trans = (
        steps.unionByName(starts)
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = trans.groupBy("from_state").agg(F.sum("n").cast("long").alias("n_from"))
    chains = local_frame(spark, "chain string", [(c,) for c in ("FULL",) + _REMOVAL_CHANNELS])
    trans_c = materialize(
        trans.join(F.broadcast(totals), "from_state")
        .crossJoin(F.broadcast(chains)),
        "events_markov_removal_attribution chains: every value-iteration round",
    )
    pi = trans_c.select(
        "chain", F.col("from_state").alias("state")
    ).distinct().withColumn("v_e9", F.lit(0).cast("long"))
    for _ in range(_REMOVAL_ROUNDS):
        p = pi.select(
            F.col("chain").alias("p_chain"),
            F.col("state").alias("p_state"),
            "v_e9",
        )
        val = (
            F.when(F.col("to_state") == "purchase", F.lit(1000000000))
            .when(F.col("to_state") == "END", F.lit(0))
            .when(F.col("to_state") == F.col("chain"), F.lit(0))
            .otherwise(F.coalesce(F.col("v_e9"), F.lit(0)))
        )
        pi = materialize(
            trans_c.join(
                F.broadcast(p),
                (F.col("chain") == F.col("p_chain"))
                & (F.col("to_state") == F.col("p_state")),
                "left",
            )
            .select(
                "chain",
                F.col("from_state").alias("state"),
                F.round(val.cast("double") * F.col("n") / F.col("n_from"))
                .cast("long")
                .alias("term"),
            )
            .groupBy("chain", "state")
            .agg(F.sum("term").cast("long").alias("v_e9")),
            "events_markov_removal_attribution values: the next round",
        )
    v = pi.filter(F.col("state") == "START").select("chain", "v_e9")
    full = v.filter(F.col("chain") == "FULL").select(
        F.col("v_e9").alias("vf")
    )
    eff = (
        v.filter(F.col("chain") != "FULL")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("chain").alias("channel"),
            "vf",
            F.col("v_e9").alias("vr"),
            (F.col("vf") - F.col("v_e9")).alias("re"),
        )
    )
    tot = eff.agg(F.sum("re").cast("double").alias("re_tot"))
    return (
        eff.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            F.round(F.col("vf").cast("double") / 1e9, 6).alias("v_full"),
            F.round(F.col("vr").cast("double") / 1e9, 6).alias("v_removed"),
            F.round(F.col("re").cast("double") / 1e9, 6).alias("removal_effect"),
            F.round(F.col("re").cast("double") / F.col("re_tot"), 6).alias(
                "attribution_share"
            ),
        )
        .orderBy("channel")
    )


@register(
    "stats_hodges_lehmann_shift",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS is_weekend,
               CAST(SUM({cents_sql('value')}) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    x AS (SELECT c FROM daily WHERE is_weekend = 0),
    y AS (SELECT c FROM daily WHERE is_weekend = 1),
    diffs AS (
        SELECT y.c - x.c AS d,
               row_number() OVER (ORDER BY y.c - x.c) AS r,
               COUNT(*) OVER () AS np
        FROM x CROSS JOIN y
    ),
    mid AS (
        SELECT CAST(SUM(d) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(np) AS BIGINT) AS np
        FROM diffs WHERE r IN ((np + 1) // 2, (np + 2) // 2)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM x) AS n_weekday,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM y) AS n_weekend,
           np AS n_pairs,
           round(CAST(s AS DOUBLE) / k / 100.0, 4) AS hl_shift
    FROM mid
    """,
    tags=("agg", "stats"),
    doc=(
        "Hodges-Lehmann shift estimator (1963) of the weekend effect "
        "on daily purchase revenue: the median of ALL pairwise "
        "differences (weekend day total - weekday day total) — the "
        "location estimator dual to the Mann-Whitney test, robust "
        "where the difference-of-means is not.  The O(n*m) pair "
        "enumeration runs at DAY grain (the timeseries_theil_sen_slope "
        "pattern): ONE corpus-scale hash agg reduces events to ~n_days "
        "exact BIGINT rows, and the cross join + order-statistic "
        "median touch only n_x * n_y bounded pairs.  The median picks "
        "the middle one/two integer differences by row_number — exact "
        "selection, with the even-count average at worst one half-cent "
        "(exact in double)."
    ),
)
def stats_hodges_lehmann_shift(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    daily = materialize(
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(cents("value")).cast("long").alias("c"))
        .select(
            "c",
            F.dayofweek("day").isin(1, 7).cast("int").alias("is_weekend"),
        ),
        "stats_hodges_lehmann_shift days: x, y and the counts",
    )
    x = daily.filter(F.col("is_weekend") == 0).select(F.col("c").alias("cx"))
    y = daily.filter(F.col("is_weekend") == 1).select(F.col("c").alias("cy"))
    diffs = (
        x.crossJoin(y)
        .select((F.col("cy") - F.col("cx")).alias("d"))
        .withColumn("r", F.row_number().over(W.orderBy("d")))
        .withColumn("np", F.count(F.lit(1)).over(W.partitionBy()))
    )
    # middle one/two ranks: (np+1)//2 and (np+2)//2
    mid = diffs.filter(
        (F.col("r") == F.floor((F.col("np") + 1) / 2))
        | (F.col("r") == F.floor((F.col("np") + 2) / 2))
    ).agg(
        F.sum("d").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("np").cast("long").alias("np"),
    )
    nx = x.agg(F.count(F.lit(1)).cast("long").alias("n_weekday"))
    ny = y.agg(F.count(F.lit(1)).cast("long").alias("n_weekend"))
    return (
        nx.crossJoin(ny)
        .crossJoin(mid)
        .select(
            "n_weekday",
            "n_weekend",
            F.col("np").alias("n_pairs"),
            F.round(
                F.col("s").cast("double") / F.col("k") / 100.0, 4
            ).alias("hl_shift"),
        )
    )


_SIGNFLIP_B = 200  # sign-flip replicates (deterministic md5 stream)


@register(
    "stats_signflip_permutation_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN CAST(strftime(ts, '%H') AS INT) < 12
                             THEN {cents_sql('value')} ELSE 0 END) AS BIGINT)
               - CAST(SUM(CASE WHEN CAST(strftime(ts, '%H') AS INT) >= 12
                               THEN {cents_sql('value')} ELSE 0 END) AS BIGINT)
                 AS d
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    obs AS (
        SELECT CAST(abs(SUM(d)) AS BIGINT) AS t_obs,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM daily
    ),
    flips AS (
        SELECT b.b,
               CAST(abs(SUM(CASE WHEN substr(md5(b.b || '_' ||
                                             strftime(day, '%Y-%m-%d')), 1, 1)
                                      < '8'
                                 THEN d ELSE -d END)) AS BIGINT) AS t_b
        FROM daily CROSS JOIN (
            SELECT CAST(x AS VARCHAR) AS b FROM unnest(range(1, {_SIGNFLIP_B} + 1)) AS t(x)
        ) b
        GROUP BY 1
    )
    SELECT obs.n_days, round(obs.t_obs / 100.0, 2) AS t_obs_dollars,
           round((1.0 + SUM(CASE WHEN flips.t_b >= obs.t_obs
                                 THEN 1 ELSE 0 END))
                 / ({_SIGNFLIP_B} + 1.0), 6) AS p_value
    FROM flips CROSS JOIN obs
    GROUP BY obs.n_days, obs.t_obs
    """,
    tags=("agg", "stats"),
    doc=(
        "Paired sign-flip (Fisher randomization) test of the morning-vs-"
        "evening purchase-revenue effect: under H0 the per-day difference "
        "d_i is symmetric around 0, so each of the "
        f"{_SIGNFLIP_B} replicates re-signs every day and compares "
        "|sum s_i*d_i| to the observed |sum d_i|; p = (1 + #exceed)/(B+1) "
        "(Ernst 2004).  The Monte Carlo stream is md5(b||'_'||day) — the "
        "same deterministic hash-randomness rule as every split/sample "
        "operator, so the replicate signs are identical in Spark and "
        "DuckDB regardless of partitioning or row order.  Scale shape: "
        "ONE corpus hash agg to day grain, then an n_days x B explode of "
        "exact BIGINT cents (bounded replicate grain, embarrassingly "
        "parallel), never a corpus-scale shuffle per replicate."
    ),
)
def stats_signflip_permutation_test(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    pc = cents("value")
    daily = materialize(
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            (
                F.sum(F.when(F.hour("ts") < 12, pc).otherwise(F.lit(0)))
                - F.sum(F.when(F.hour("ts") >= 12, pc).otherwise(F.lit(0)))
            )
            .cast("long")
            .alias("d")
        ),
        "stats_signflip_permutation_test days: observed stat and the replicates",
    )
    obs = daily.agg(
        F.abs(F.sum("d")).cast("long").alias("t_obs"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    flips = (
        daily.select(
            "day",
            "d",
            F.explode(F.sequence(F.lit(1), F.lit(_SIGNFLIP_B))).alias("b"),
        )
        .groupBy("b")
        .agg(
            F.abs(
                F.sum(
                    F.when(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "_",
                                    F.col("b").cast("string"),
                                    F.date_format("day", "yyyy-MM-dd"),
                                )
                            ),
                            1,
                            1,
                        )
                        < "8",
                        F.col("d"),
                    ).otherwise(-F.col("d"))
                )
            )
            .cast("long")
            .alias("t_b")
        )
    )
    return (
        flips.crossJoin(F.broadcast(obs))
        .groupBy("n_days", "t_obs")
        .agg(
            F.round(
                (
                    1.0
                    + F.sum(
                        F.when(F.col("t_b") >= F.col("t_obs"), 1).otherwise(0)
                    )
                )
                / (_SIGNFLIP_B + 1.0),
                6,
            ).alias("p_value")
        )
        .select(
            "n_days",
            F.round(F.col("t_obs") / 100.0, 2).alias("t_obs_dollars"),
            "p_value",
        )
    )

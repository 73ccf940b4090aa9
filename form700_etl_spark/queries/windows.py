"""Window-function surface: ranking, lag/lead, running frames, ntile,
sessionization (build plan M3; no reference analog — SURVEY §2.6).

Every ORDER BY inside a window includes a unique tie-break key so row-
based frames are deterministic across engines and across partitionings
— mandatory for a distributed engine (row order within equal keys is
otherwise plan-dependent).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.money import cents, cents_sql
from ..io import local_frame, table
from ..registry import register


@register(
    "window_top3_customers_per_nation",
    oracle=f"""
    SELECT c_nationkey, c_custkey, {cents_sql('c_acctbal')} / 100.0 AS acctbal, rn
    FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               CAST(row_number() OVER (PARTITION BY c_nationkey
                                       ORDER BY {cents_sql('c_acctbal')} DESC, c_custkey) AS INT) AS rn
        FROM customer
    ) t WHERE rn <= 3
    """,
    tags=("window", "topk"),
    doc="Top-K per group via row_number window (no global sort).",
)
def window_top3_customers_per_nation(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(cents("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", (cents("c_acctbal") / F.lit(100.0)).alias("acctbal"), "rn")
    )


@register(
    "window_rank_parts_in_brand",
    oracle=f"""
    SELECT p_brand, p_partkey,
           CAST(rank() OVER (PARTITION BY p_brand ORDER BY {cents_sql('p_retailprice')} DESC) AS INT) AS price_rank,
           CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY {cents_sql('p_retailprice')} DESC) AS INT) AS price_dense_rank,
           round(percent_rank() OVER (PARTITION BY p_brand ORDER BY {cents_sql('p_retailprice')} DESC), 6) AS price_pct_rank
    FROM part
    """,
    tags=("window",),
    doc="rank / dense_rank / percent_rank (peer-aware, deterministic on value ties).",
)
def window_rank_parts_in_brand(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(cents("p_retailprice").desc())
    return p.select(
        "p_brand",
        "p_partkey",
        F.rank().over(w).cast("int").alias("price_rank"),
        F.dense_rank().over(w).cast("int").alias("price_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
    )


@register(
    "window_lag_lead_order_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           strftime(lag(o_orderdate) OVER w, '%Y-%m-%d') AS prev_orderdate,
           strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS next_orderdate,
           CAST(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
    doc="lag/lead across a per-customer order timeline with day gaps.",
)
def window_lag_lead_order_gaps(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.date_format(prev, "yyyy-MM-dd").alias("prev_orderdate"),
        F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd").alias("next_orderdate"),
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date")).cast("int").alias("days_since_prev"),
    )


@register(
    "window_running_supplier_revenue",
    oracle=f"""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM({cents_sql('l_extendedprice')})
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
             AS running_revenue
    FROM lineitem
    WHERE l_suppkey <= 3
    """,
    tags=("window",),
    doc="Running total with an explicit ROWS frame and unique ordering.",
)
def window_running_supplier_revenue(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 3)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return l.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (F.sum(cents("l_extendedprice")).over(w) / F.lit(100.0)).alias("running_revenue"),
    )


@register(
    "window_range_frame_cumulative",
    oracle=f"""
    SELECT o_orderstatus, o_orderkey,
           CAST(SUM({cents_sql('o_totalprice')})
                OVER (PARTITION BY o_orderstatus
                      ORDER BY {cents_sql('o_totalprice')}
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
             AS cume_price
    FROM orders
    WHERE o_custkey <= 50
    """,
    tags=("window",),
    doc="RANGE frame: peers (equal order values) aggregate together — deterministic on ties.",
)
def window_range_frame_cumulative(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy(cents("o_totalprice"))
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_orderstatus",
        "o_orderkey",
        (F.sum(cents("o_totalprice")).over(w) / F.lit(100.0)).alias("cume_price"),
    )


@register(
    "window_ntile_quartiles",
    oracle=f"""
    SELECT quartile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN({cents_sql('c_acctbal')}) AS BIGINT) / 100.0 AS min_bal,
           CAST(MAX({cents_sql('c_acctbal')}) AS BIGINT) / 100.0 AS max_bal
    FROM (
        SELECT c_acctbal,
               CAST(ntile(4) OVER (ORDER BY {cents_sql('c_acctbal')}, c_custkey) AS INT) AS quartile
        FROM customer
    ) t GROUP BY quartile
    """,
    tags=("window", "agg"),
    doc=(
        "ntile bucketing over a unique total order, then per-bucket stats.  "
        "A naive ntile(4) OVER (ORDER BY ...) funnels the whole table "
        "through ONE partition; instead the global rank is computed with a "
        "distributed two-pass scheme — coarse range-bucket histogram (one "
        "hash agg), cumulative offsets over the tiny histogram, per-bucket "
        "local row_number (parallel window) + offset — and ntile's exact "
        "bucket-size rule (first N%4 buckets get one extra row) is applied "
        "as a closed-form expression on that rank.  Bit-identical to "
        "ntile(4), no single-partition stage."
    ),
)
def window_ntile_quartiles(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    bal = cents("c_acctbal")

    # pass 0: range for coarse bucketing — two scalars to the driver
    # (same budget class as broadcasting k-means centroids).
    lo, hi = c.agg(F.min(bal), F.max(bal)).first()
    n_buckets = 1024
    width = max((hi - lo) // n_buckets + 1, 1)
    bucketed = c.select(
        F.col("c_acctbal"),
        bal.alias("bal"),
        F.col("c_custkey"),
        ((bal - F.lit(lo)) / F.lit(width)).cast("int").alias("bucket"),
    )

    # pass 1: histogram of buckets (hash agg), cumulative offsets + grand
    # total over the <=1024-row histogram — the only unpartitioned window
    # runs on the histogram, never on the data.
    # histogram of buckets (one hash agg), cumulative offsets computed on
    # the driver — the histogram is <=1024 rows by construction, the same
    # budget class as the lo/hi scalars above.  No unpartitioned window
    # ever touches the data.
    hist = sorted(
        bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect(),
        key=lambda r: r["bucket"],
    )
    total = sum(r["cnt"] for r in hist)
    offs, acc = [], 0
    for r in hist:
        offs.append((r["bucket"], acc))
        acc += r["cnt"]
    offsets = local_frame(spark, "bucket int, offset long", offs)

    # pass 2: local rank within each bucket (parallel window) + offset =
    # exact global rank; then ntile's size rule in closed form:
    # q = N div 4, rem = N mod 4; first rem buckets hold q+1 rows.
    w_local = W.partitionBy("bucket").orderBy("bal", "c_custkey")
    ranked = (
        bucketed.join(F.broadcast(offsets), "bucket")
        .withColumn("r", F.row_number().over(w_local) + F.col("offset"))
    )
    idiv = lambda a, b: F.floor(a / b).cast("long")
    q, rem = total // 4, total % 4
    cut = rem * (q + 1)
    quartile = (
        F.when(F.col("r") <= cut, idiv(F.col("r") - 1, q + 1) + 1)
        .otherwise(rem + idiv(F.col("r") - cut - 1, max(q, 1)) + 1)
        .cast("int")
    )
    return (
        ranked.select(F.col("c_acctbal"), quartile.alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.min(bal) / F.lit(100.0)).alias("min_bal"),
            (F.max(bal) / F.lit(100.0)).alias("max_bal"),
        )
    )


@register(
    "sessionize_user_events",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS INT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
    FROM sess GROUP BY user_id, session_id
    """,
    tags=("window", "sessionization"),
    doc="Batch sessionization: lag-gap > 30 min starts a session; cumulative sum labels it.",
)
def sessionize_user_events(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_s.isNull() | (gap_s > 1800), 1).otherwise(0).alias("is_new"),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias("duration_s"),
    )


@register(
    "window_rolling_median_value",
    oracle="""
    WITH c AS (
        SELECT event_id, user_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    framed AS (
        SELECT event_id, user_id,
               list_sort(list(cents) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
        FROM c
    )
    SELECT event_id, user_id,
           CAST(CASE WHEN len(arr) % 2 = 1
                     THEN 2 * arr[(len(arr) + 1) // 2]
                     ELSE arr[len(arr) // 2] + arr[len(arr) // 2 + 1]
                END AS BIGINT) / 200.0 AS rolling_median
    FROM framed
    """,
    tags=("window", "events"),
    doc=(
        "Exact rolling median of event value per user (5-row trailing "
        "frame): sorted frame collect + the med2 trick — twice-the-median "
        "as an exact integer over cents (2x middle, or the two middles "
        "summed), one final division — so both engines agree bit-for-bit "
        "with no float-comparison hazard.  One window over the user-"
        "clustered exchange; tie-broken by event_id for determinism."
    ),
)
def window_rolling_median_value(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions.money import cents

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", cents("value").alias("cents")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    framed = e.select(
        "event_id",
        "user_id",
        F.array_sort(F.collect_list("cents").over(w)).alias("arr"),
    )
    med2 = F.expr(
        "CAST(CASE WHEN size(arr) % 2 = 1 "
        "THEN 2 * element_at(arr, CAST((size(arr) + 1) DIV 2 AS INT)) "
        "ELSE element_at(arr, CAST(size(arr) DIV 2 AS INT)) "
        "   + element_at(arr, CAST(size(arr) DIV 2 + 1 AS INT)) END AS BIGINT)"
    )
    return framed.select(
        "event_id", "user_id", (med2 / F.lit(200.0)).alias("rolling_median")
    )


@register(
    "window_mad_outliers_by_type",
    oracle="""
    WITH c AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    ranked AS (
        SELECT event_id, event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c
    ),
    med AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END)
                    + SUM(CASE WHEN rn = n // 2 + 1 THEN cents ELSE 0 END)
                    AS BIGINT) AS m2
        FROM ranked GROUP BY event_type
    ),
    dev AS (
        SELECT r.event_id, r.event_type, r.cents,
               abs(2 * r.cents - m.m2) AS d2
        FROM ranked r JOIN med m ON m.event_type = r.event_type
    ),
    dranked AS (
        SELECT event_id, event_type, cents, d2,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY d2, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN d2 ELSE 0 END)
                    + SUM(CASE WHEN rn = n // 2 + 1 THEN d2 ELSE 0 END)
                    AS BIGINT) AS mad4
        FROM dranked GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           d.cents / 100.0 AS value,
           CAST(d.d2 AS BIGINT) AS dev2, m.mad4
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    WHERE 2 * d.d2 > 7 * m.mad4
    """,
    tags=("window", "events", "quality"),
    doc=(
        "Robust outlier detection via median absolute deviation, fully "
        "integer-exact: the med2 trick twice (2x median of cents; then "
        "4x MAD as the doubled median of doubled deviations), medians "
        "as per-group ORDER-STATISTIC windows (row_number + count, no "
        "collect), outlier iff 2*dev2 > 7*mad4 (i.e. |x - med| > 3.5 "
        "MAD).  Complements the moment-based z-score query with the "
        "estimator that survives heavy tails.  Two window passes over "
        "the same event_type clustering."
    ),
)
def window_mad_outliers_by_type(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions.money import cents

    e = table(spark, sf_dir, "events").select(
        "event_id", "event_type", cents("value").alias("cents")
    )
    wt = W.partitionBy("event_type")
    ranked = e.select(
        "event_id",
        "event_type",
        "cents",
        F.row_number().over(wt.orderBy("cents", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med2 = (
        F.sum(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("cents")).otherwise(0))
        + F.sum(F.when(F.col("rn") == F.expr("n DIV 2 + 1"), F.col("cents")).otherwise(0))
    )
    med = ranked.groupBy("event_type").agg(med2.alias("m2"))
    dev = ranked.join(med, "event_type").select(
        "event_id",
        "event_type",
        "cents",
        F.abs(2 * F.col("cents") - F.col("m2")).alias("d2"),
    )
    dranked = dev.select(
        "event_id",
        "event_type",
        "cents",
        "d2",
        F.row_number().over(wt.orderBy("d2", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    mad2 = (
        F.sum(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("d2")).otherwise(0))
        + F.sum(F.when(F.col("rn") == F.expr("n DIV 2 + 1"), F.col("d2")).otherwise(0))
    )
    mad = dranked.groupBy("event_type").agg(mad2.alias("mad4"))
    return (
        dev.join(mad, "event_type")
        .filter(2 * F.col("d2") > 7 * F.col("mad4"))
        .select(
            "event_id",
            "event_type",
            (F.col("cents") / F.lit(100.0)).alias("value"),
            F.col("d2").alias("dev2"),
            "mad4",
        )
    )


@register(
    "window_rank_functions_suite",
    oracle=f"""
    SELECT o_orderstatus,
           o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_key,
           CAST(nth_value(o_orderkey, 3) OVER
                (PARTITION BY o_orderstatus
                 ORDER BY {cents_sql('o_totalprice')} DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS third_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY {cents_sql('o_totalprice')} DESC, o_orderkey)
    QUALIFY rank() OVER w <= 50
    """,
    tags=("window",),
    doc=(
        "The remaining ranking-window surface in one query: rank / "
        "dense_rank / percent_rank / cume_dist / first_value / "
        "nth_value over a cents-exact ordering with an id tie-break "
        "(every function deterministic under any partitioning), top-50 "
        "per status.  One exchange, one sort; the nth_value full-frame "
        "variant shares the same sort order so Catalyst keeps it in the "
        "same Window operator chain."
    ),
)
def window_rank_functions_suite(spark, sf_dir):
    from ..functions.money import cents as _cents

    o = table(spark, sf_dir, "orders")
    key = _cents("o_totalprice").desc(), F.col("o_orderkey").asc()
    w = W.partitionBy("o_orderstatus").orderBy(*key)
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        o.select(
            "o_orderstatus",
            "o_orderkey",
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.first("o_orderkey").over(w).cast("bigint").alias("first_key"),
            F.nth_value("o_orderkey", 3).over(wf).cast("bigint").alias("third_key"),
        )
        .filter(F.col("rnk") <= 50)
    )

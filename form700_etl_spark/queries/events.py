"""Event-table surface: JSON extraction, epoch-aligned time windows,
as-of joins, range/band joins (build plan M3/M5).

The batch time-window queries here are semantically identical to their
Structured Streaming twins in :mod:`form700_etl_spark.streaming` —
``F.window`` produces the same epoch-aligned buckets in both modes, so
the DuckDB oracle validates the streaming logic too.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.money import cents, cents_sql
from ..io import local_frame, materialize, table
from ..registry import register


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "agg"),
    doc="get_json_object over the props JSON-string column, aggregated per type.",
)
def events_json_extract(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_variant_props",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(props->>'$.k' AS BIGINT) AS k
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_k_over_50,
           round(AVG(CAST(k AS DOUBLE)), 6) AS avg_k
    FROM v
    GROUP BY event_type
    """,
    tags=("json", "variant", "agg"),
    doc=(
        "Semi-structured props through Spark 4's VARIANT type: "
        "try_parse_json builds the binary variant once, typed paths come "
        "out via try_variant_get — the open-schema column pattern for "
        "event payloads whose shape drifts.  Unlike get_json_object "
        "(string re-parse per extraction), the variant parses each "
        "payload ONCE and every downstream path access reads the binary "
        "encoding; at 100 TB the parse amortizes across extractions and "
        "the variant column stores/shuffles as compact binary.  Oracle "
        "extracts the same paths with DuckDB JSON operators."
    ),
)
def events_variant_props(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_k_over_50"),
            F.round(F.avg(F.col("k").cast("double")), 6).alias("avg_k"),
        )
    )


@register(
    "events_tumbling_hourly",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({cents_sql('value')}) AS BIGINT) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("window", "time", "streaming-twin"),
    doc="Tumbling 1-hour windows (epoch-aligned, identical to streaming window()).",
)
def events_tumbling_hourly(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")) / F.lit(100.0)).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "events_sliding_1h_30m",
    oracle="""
    WITH starts AS (
        SELECT event_id, value, unnest([
            make_timestamp((epoch_us(ts) // 1800000000) * 1800000000),
            make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000)
        ]) AS w_start, ts
        FROM events
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
    FROM starts
    WHERE ts >= w_start AND ts < w_start + INTERVAL 1 HOUR
    GROUP BY 1
    """,
    tags=("window", "time", "streaming-twin"),
    doc="Sliding 1h windows hopping every 30min — each event lands in 2 buckets.",
)
def events_sliding_1h_30m(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("n_distinct"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "n_distinct",
        )
    )


@register(
    "asof_last_purchase_per_event",
    oracle="""
    WITH purchases AS (
        -- dedup to one purchase per (user, ts) so the as-of pick is total-ordered
        SELECT user_id, ts, MAX(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    ),
    latest AS (
        SELECT e.event_id, MAX(p.ts) AS p_ts
        FROM events e JOIN purchases p
          ON e.user_id = p.user_id AND p.ts <= e.ts
        GROUP BY e.event_id
    )
    SELECT e.event_id, e.user_id, e.event_type,
           CAST(p.purchase_id AS BIGINT) AS last_purchase_id,
           CAST(date_diff('second', l.p_ts, e.ts) AS BIGINT) AS secs_since_purchase
    FROM events e
    LEFT JOIN latest l ON e.event_id = l.event_id
    LEFT JOIN purchases p ON p.user_id = e.user_id AND p.ts = l.p_ts
    """,
    tags=("asof", "join"),
    doc=(
        "As-of join (latest purchase at/before each event). Spark-first plan: "
        "no join at all — a single shuffle by user_id + ordered window with "
        "last(ignoreNulls), the scalable as-of pattern (vs the reference "
        "engine family's dedicated as-of operators)."
    ),
)
def asof_last_purchase_per_event(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    # one purchase per (user, ts): keep max event_id (same rule as the oracle)
    purchase_id_here = F.max(
        F.when(F.col("event_type") == "purchase", F.col("event_id"))
    ).over(W.partitionBy("user_id", "ts"))
    marked = e.withColumn("purchase_id_here", purchase_id_here)
    w = W.partitionBy("user_id").orderBy("ts").rowsBetween(W.unboundedPreceding, W.currentRow)
    enriched = marked.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.last("purchase_id_here", ignorenulls=True).over(w).alias("last_purchase_id"),
        F.last(
            F.when(F.col("purchase_id_here").isNotNull(), F.col("ts")), ignorenulls=True
        ).over(w).alias("last_purchase_ts"),
    )
    return enriched.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("last_purchase_id").cast("long"),
        (F.col("ts").cast("long") - F.col("last_purchase_ts").cast("long"))
        .cast("long")
        .alias("secs_since_purchase"),
    )


@register(
    "range_join_lineitems_within_30d",
    oracle="""
    SELECT o.o_orderkey,
           CAST(COUNT(l.l_linenumber) AS BIGINT) AS n_shipped_30d
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderkey
    """,
    tags=("join", "range"),
    doc="Equi + range-predicate join: lineitems shipped within 30 days of order date.",
)
def range_join_lineitems_within_30d(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    cond = (
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate < F.date_add(o.o_orderdate, 30).cast("timestamp"))
    )
    return (
        o.join(l, cond, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_linenumber").alias("n_shipped_30d"))
    )


@register(
    "band_join_value_buckets",
    oracle="""
    WITH buckets(bucket, lo, hi) AS (
        VALUES ('tiny', 0.0, 1.0), ('small', 1.0, 10.0),
               ('medium', 10.0, 100.0), ('large', 100.0, 1000.0)
    )
    SELECT b.bucket, CAST(COUNT(e.event_id) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM buckets b LEFT JOIN events e ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket
    """,
    tags=("join", "range"),
    doc="Band join against a broadcast interval table (BNL on a tiny side — the scalable plan).",
)
def band_join_value_buckets(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    buckets = local_frame(
        spark,
        "bucket string, lo double, hi double",
        [("tiny", 0.0, 1.0), ("small", 1.0, 10.0), ("medium", 10.0, 100.0), ("large", 100.0, 1000.0)],
    )
    return (
        F.broadcast(buckets)
        .join(e, (e.value >= buckets.lo) & (e.value < buckets.hi), "left")
        .groupBy("bucket")
        .agg(
            F.count("event_id").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "events_funnel_signup_click_purchase",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_signup_click,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_signup_click_purchase
    """,
    tags=("events", "funnel"),
    doc=(
        "Ordered funnel analysis (signup -> click -> purchase): per user, "
        "each stage must occur STRICTLY AFTER the previous stage's first "
        "completion — the sequential-pattern semantic, not three "
        "independent existence checks.  Three stage aggregations chained "
        "by joins on the previous stage's first-completion time; every "
        "stage prunes its scan to one event type before shuffling."
    ),
)
def events_funnel_signup_click_purchase(spark, sf_dir):
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_signup_click")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_signup_click_purchase")))
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
                    AS BIGINT) AS week
        FROM events
    ),
    cohorts AS (
        SELECT user_id, MIN(week) AS cohort_week FROM activity GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS n_cohort FROM cohorts GROUP BY cohort_week
    )
    SELECT c.cohort_week,
           a.week - c.cohort_week AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active,
           CAST(s.n_cohort AS BIGINT) AS n_cohort
    FROM activity a
    JOIN cohorts c ON c.user_id = a.user_id
    JOIN sizes s ON s.cohort_week = c.cohort_week
    GROUP BY c.cohort_week, a.week - c.cohort_week, s.n_cohort
    """,
    tags=("events", "analytics"),
    doc=(
        "Retention cohort analysis: users grouped by first-activity week, "
        "distinct active users per (cohort, week offset) with cohort "
        "sizes.  Weeks are days-since-epoch-anchor DIV 7 — pure integer "
        "arithmetic, immune to engine week-truncation conventions.  Two "
        "user-keyed aggregations + one broadcast-sized cohort join; the "
        "distinct-activity projection collapses the input before any "
        "join."
    ),
)
def events_retention_cohorts(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    activity = e.select(
        "user_id",
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') DIV 7 AS BIGINT)"
        ).alias("week"),
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohorts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_cohort"))
    return (
        activity.join(cohorts, "user_id")
        .join(sizes, "cohort_week")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            "n_cohort",
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
        .select("cohort_week", "week_offset", "n_active", F.col("n_cohort").cast("long"))
    )


@register(
    "events_gap_filled_hourly",
    oracle="""
    WITH spine AS (
        SELECT t.h AS hour FROM (
            SELECT unnest(generate_series(
                TIMESTAMP '2024-01-01 00:00:00',
                (SELECT date_trunc('hour', MAX(ts)) FROM events),
                INTERVAL 1 HOUR)) AS h
        ) t
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           ty.event_type,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n
    FROM spine s CROSS JOIN types ty
    LEFT JOIN actual a ON a.hour = s.hour AND a.event_type = ty.event_type
    """,
    tags=("events", "timeseries"),
    doc=(
        "Time-series gap filling: a generated hourly spine (sequence + "
        "explode — no data shuffle to build it) cross-joined with the "
        "distinct type dimension, left-joined against the actual hourly "
        "counts so silent hours surface as explicit zeros — what every "
        "downstream forecaster/alerter needs.  The spine is bounded by "
        "the observed time range; at 100 TB it is still only "
        "hours x types rows (broadcast side), the facts aggregate once."
    ),
)
def events_gap_filled_hourly(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    hi = e.agg(F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = hi.select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp"),
                F.col("hi"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour")
    )
    types = e.select("event_type").distinct()
    actual = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(types)
        .join(actual, ["hour", "event_type"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )


@register(
    "events_type_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n_users AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
    singles AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
        FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           round(CAST(p.n_both AS DOUBLE) * (SELECT nu FROM n_users)
                 / (sa.n * sb.n), 6) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    """,
    tags=("events", "analytics"),
    doc=(
        "Event-type co-occurrence with lift (market-basket association "
        "over users): distinct (user, type) collapses the fact table "
        "first, the pair self-join runs on that reduced relation keyed "
        "by user, and type marginals broadcast.  Lift = P(a,b)/P(a)P(b) "
        "computed from exact integer counts with one final rounded "
        "division."
    ),
)
def events_type_cooccurrence(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    nu = e.agg(F.count_distinct("user_id").alias("nu"))
    singles = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long"),
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            F.round(
                F.col("n_both").cast("double") * F.col("nu") / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "events_point_in_time_join",
    oracle="""
    WITH versions AS (
        SELECT user_id, value AS plan_value, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS valid_to,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS version
        FROM events WHERE event_type = 'signup'
    ),
    purchases AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id,
           p.user_id,
           CAST(v.version AS INT) AS version,
           round(v.plan_value, 2) AS plan_value,
           round(p.value, 2) AS purchase_value
    FROM purchases p
    JOIN versions v
      ON v.user_id = p.user_id
     AND p.ts >= v.valid_from
     AND (v.valid_to IS NULL OR p.ts < v.valid_to)
    """,
    tags=("events", "join", "temporal"),
    doc=(
        "Point-in-time (AS OF) join against an SCD2-style version "
        "history: signup events become validity-interval versions "
        "(valid_from = ts, valid_to = next version's ts via lead), and "
        "each purchase joins the version active AT ITS TIMESTAMP — the "
        "temporal-correctness join every feature-store backfill needs "
        "(no future leakage).  The interval build is one window; the "
        "join is an equi-join on user plus range predicates, so AQE "
        "plans it as an ordinary hash join with residual filters, not "
        "a cross product."
    ),
)
def events_point_in_time_join(spark, sf_dir):
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        e.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("value").alias("plan_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(wu).alias("valid_to"),
            F.row_number().over(wu).alias("version"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    return (
        purchases.join(
            versions,
            (purchases.user_id == versions.user_id)
            & (purchases.ts >= versions.valid_from)
            & (versions.valid_to.isNull() | (purchases.ts < versions.valid_to)),
        )
        .select(
            "event_id",
            purchases.user_id.alias("user_id"),
            F.col("version").cast("int"),
            F.round("plan_value", 2).alias("plan_value"),
            F.round("purchase_value", 2).alias("purchase_value"),
        )
    )


# -------------------------------------------------------------- RFM

# Quintile scoring by VALUE THRESHOLDS (exact interpolated 20/40/60/80
# percentiles), not by global ntile rank: a rank window over every user
# is a single-partition sort of the whole user base, while four
# broadcast thresholds + boolean sums are scan-side — and ties score
# identically by construction.
_RFM_SCORE_SQL = (
    "CAST(1"
    " + (CASE WHEN CAST({m} AS DOUBLE) > p20_{m} THEN 1 ELSE 0 END)"
    " + (CASE WHEN CAST({m} AS DOUBLE) > p40_{m} THEN 1 ELSE 0 END)"
    " + (CASE WHEN CAST({m} AS DOUBLE) > p60_{m} THEN 1 ELSE 0 END)"
    " + (CASE WHEN CAST({m} AS DOUBLE) > p80_{m} THEN 1 ELSE 0 END) AS INT)"
)


@register(
    "events_rfm_segments",
    oracle=f"""
    WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS ref_day FROM events),
    per_user AS (
        SELECT user_id,
               CAST(datediff('day', MAX(CAST(ts AS DATE)), ref.ref_day) AS BIGINT)
                 AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM({cents_sql("value")}) AS BIGINT) AS monetary_cents
        FROM events CROSS JOIN ref
        WHERE event_type = 'purchase'
        GROUP BY user_id, ref.ref_day
    ),
    th AS (
        SELECT
          quantile_cont(CAST(recency_days AS DOUBLE), 0.2) AS p20_recency_days,
          quantile_cont(CAST(recency_days AS DOUBLE), 0.4) AS p40_recency_days,
          quantile_cont(CAST(recency_days AS DOUBLE), 0.6) AS p60_recency_days,
          quantile_cont(CAST(recency_days AS DOUBLE), 0.8) AS p80_recency_days,
          quantile_cont(CAST(frequency AS DOUBLE), 0.2) AS p20_frequency,
          quantile_cont(CAST(frequency AS DOUBLE), 0.4) AS p40_frequency,
          quantile_cont(CAST(frequency AS DOUBLE), 0.6) AS p60_frequency,
          quantile_cont(CAST(frequency AS DOUBLE), 0.8) AS p80_frequency,
          quantile_cont(CAST(monetary_cents AS DOUBLE), 0.2) AS p20_monetary_cents,
          quantile_cont(CAST(monetary_cents AS DOUBLE), 0.4) AS p40_monetary_cents,
          quantile_cont(CAST(monetary_cents AS DOUBLE), 0.6) AS p60_monetary_cents,
          quantile_cont(CAST(monetary_cents AS DOUBLE), 0.8) AS p80_monetary_cents
        FROM per_user
    ),
    scored AS (
        SELECT user_id, recency_days, frequency, monetary_cents,
               6 - {_RFM_SCORE_SQL.format(m="recency_days")} AS r_score,
               {_RFM_SCORE_SQL.format(m="frequency")} AS f_score,
               {_RFM_SCORE_SQL.format(m="monetary_cents")} AS m_score
        FROM per_user CROSS JOIN th
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
                WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    tags=("events", "analytics"),
    doc=(
        "RFM customer segmentation over the purchase stream: per-user "
        "recency/frequency/monetary (exact integer days/counts/cents), "
        "quintile scores assigned by comparing against the EXACT "
        "interpolated 20/40/60/80th percentile thresholds — four "
        "broadcast doubles — instead of a global ntile window (which "
        "would single-partition-sort every user at corpus scale), then "
        "the classic named segments.  One user-keyed aggregation + one "
        "1-row threshold agg; scoring is scan-side boolean arithmetic."
    ),
)
def events_rfm_segments(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ref = e.agg(F.max(F.col("ts").cast("date")).alias("ref_day"))
    per_user = (
        e.crossJoin(F.broadcast(ref))
        .groupBy("user_id", "ref_day")
        .agg(
            F.datediff("ref_day", F.max(F.col("ts").cast("date"))).cast("bigint").alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(cents("value")).cast("bigint").alias("monetary_cents"),
        )
        .drop("ref_day")
    )
    th = per_user.agg(
        *[
            F.expr(f"percentile(CAST({m} AS DOUBLE), {q})").alias(f"p{int(q*100)}_{m}")
            for m in ("recency_days", "frequency", "monetary_cents")
            for q in (0.2, 0.4, 0.6, 0.8)
        ]
    )
    scored = per_user.crossJoin(F.broadcast(th)).select(
        "user_id", "recency_days", "frequency", "monetary_cents",
        (6 - F.expr(_RFM_SCORE_SQL.format(m="recency_days"))).cast("int").alias("r_score"),
        F.expr(_RFM_SCORE_SQL.format(m="frequency")).alias("f_score"),
        F.expr(_RFM_SCORE_SQL.format(m="monetary_cents")).alias("m_score"),
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4), "champion")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg)


@register(
    "events_top_trigram_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT 10
    """,
    tags=("events", "window", "sequence"),
    doc=(
        "Top-10 three-step behavioral paths (sequential pattern mining "
        "at n=3): both lead() columns share ONE user-keyed window over "
        "one exchange, then a hash agg over the 5^3 path space and a "
        "TakeOrdered partial top-k.  The n-gram-over-sessions primitive "
        "behind funnel discovery — contrast events_type_transition_"
        "matrix (n=2, full matrix) and events_funnel_* (fixed pattern)."
    ),
)
def events_top_trigram_paths(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(10)
    )


@register(
    "events_burstiness_fano",
    oracle="""
    WITH per_user AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS BIGINT) AS ss
        FROM per_user GROUP BY event_type
    )
    SELECT event_type, n_users,
           round(CAST(s AS DOUBLE) / n_users, 6) AS mean_per_user,
           round(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_users)
                  / (n_users - 1))
                 / (CAST(s AS DOUBLE) / n_users), 6) AS fano_factor
    FROM m ORDER BY event_type
    """,
    tags=("events", "stats", "agg"),
    doc=(
        "Fano-factor burstiness of per-user event counts by type "
        "(variance-to-mean ratio): 1 for Poisson arrivals, > 1 for "
        "bursty/overdispersed behavior — the dispersion screen that "
        "tells bot-like traffic from organic before rate features feed "
        "a model.  Two chained hash aggs produce exact integer moments "
        "(user grain, then type grain); variance and the ratio evaluate "
        "once on identical doubles.  Mergeable partials at any scale."
    ),
)
def events_burstiness_fano(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    m = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("s"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).cast("long").alias("ss"),
    )
    nd = F.col("n_users").cast("double")
    sd = F.col("s").cast("double")
    var = (F.col("ss").cast("double") - sd * F.col("s") / nd) / (nd - 1)
    return m.select(
        "event_type",
        "n_users",
        F.round(sd / nd, 6).alias("mean_per_user"),
        F.round(var / (sd / nd), 6).alias("fano_factor"),
    ).orderBy("event_type")


@register(
    "asof_nearest_purchase_per_event",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts, MAX(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    ),
    back AS (
        SELECT e.event_id, MAX(p.ts) AS b_ts
        FROM events e JOIN purchases p
          ON e.user_id = p.user_id AND p.ts <= e.ts
        GROUP BY e.event_id
    ),
    fwd AS (
        SELECT e.event_id, MIN(p.ts) AS f_ts
        FROM events e JOIN purchases p
          ON e.user_id = p.user_id AND p.ts >= e.ts
        GROUP BY e.event_id
    ),
    pick AS (
        SELECT e.event_id, e.user_id, e.event_type, e.ts,
               CASE
                 WHEN b.b_ts IS NULL THEN f.f_ts
                 WHEN f.f_ts IS NULL THEN b.b_ts
                 WHEN date_diff('second', b.b_ts, e.ts)
                      <= date_diff('second', e.ts, f.f_ts) THEN b.b_ts
                 ELSE f.f_ts
               END AS p_ts
        FROM events e
        LEFT JOIN back b ON e.event_id = b.event_id
        LEFT JOIN fwd f ON e.event_id = f.event_id
    )
    SELECT k.event_id, k.user_id, k.event_type,
           CAST(p.purchase_id AS BIGINT) AS nearest_purchase_id,
           CAST(date_diff('second', p.ts, k.ts) AS BIGINT) AS secs_offset
    FROM pick k
    LEFT JOIN purchases p ON p.user_id = k.user_id AND p.ts = k.p_ts
    """,
    tags=("asof", "join", "window"),
    doc=(
        "Nearest-direction as-of join (pandas merge_asof direction="
        "'nearest'): each event matches its temporally CLOSEST purchase "
        "by the same user, before OR after, ties to the backward side.  "
        "Spark-first plan: still NO join — one shuffle by user_id and "
        "two ordered windows (backward last(ignoreNulls) + forward "
        "first(ignoreNulls) over the purchase markers pre-spread across "
        "(user, ts) peers), then a scan-side nearest pick.  The "
        "backward-only sibling is asof_last_purchase_per_event; this "
        "variant is the semantics Spark lacks natively in either "
        "direction.  The oracle replays it as bounded min/max "
        "candidate joins."
    ),
)
def asof_nearest_purchase_per_event(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    purchase_id_here = F.max(
        F.when(F.col("event_type") == "purchase", F.col("event_id"))
    ).over(W.partitionBy("user_id", "ts"))
    marked = e.withColumn("p_here", purchase_id_here)
    wb = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    p_ts_col = F.when(F.col("p_here").isNotNull(), F.col("ts"))
    cand = marked.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.last("p_here", ignorenulls=True).over(wb).alias("b_id"),
        F.last(p_ts_col, ignorenulls=True).over(wb).alias("b_ts"),
        F.first("p_here", ignorenulls=True).over(wf).alias("f_id"),
        F.first(p_ts_col, ignorenulls=True).over(wf).alias("f_ts"),
    )
    back_gap = F.col("ts").cast("long") - F.col("b_ts").cast("long")
    fwd_gap = F.col("f_ts").cast("long") - F.col("ts").cast("long")
    take_back = F.col("f_ts").isNull() | (
        F.col("b_ts").isNotNull() & (back_gap <= fwd_gap)
    )
    return cand.select(
        "event_id",
        "user_id",
        "event_type",
        F.when(take_back, F.col("b_id"))
        .otherwise(F.col("f_id"))
        .cast("long")
        .alias("nearest_purchase_id"),
        F.when(take_back, back_gap)
        .otherwise(-fwd_gap)
        .cast("long")
        .alias("secs_offset"),
    )


@register(
    "events_kaplan_meier_conversion",
    oracle="""
    WITH obs_end AS (SELECT MAX(ts) AS t_end FROM events),
    users AS (
        SELECT user_id, MIN(ts) AS t_entry,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purch
        FROM events GROUP BY user_id
    ),
    durations AS (
        SELECT CASE WHEN t_purch IS NOT NULL
                    THEN date_diff('day', t_entry, t_purch)
                    ELSE date_diff('day', t_entry, (SELECT t_end FROM obs_end))
               END AS t,
               CASE WHEN t_purch IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM users
    ),
    grain AS (
        SELECT CAST(t AS BIGINT) AS t,
               CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM durations GROUP BY 1
    ),
    risk AS (
        SELECT t, d, c,
               CAST((SELECT CAST(SUM(d + c) AS BIGINT) FROM grain)
                    - (SUM(d + c) OVER (ORDER BY t) - (d + c)) AS BIGINT)
                 AS n_risk
        FROM grain
    ),
    terms AS (
        -- ln on identical doubles, quantized to nano-units BEFORE the
        -- cumulative sum (the MI/Adamic-Adar determinism idiom); a
        -- d = n_risk step drives survival to exactly 0 afterwards.
        SELECT t, d, c, n_risk,
               CASE WHEN d = 0 THEN 0
                    WHEN d < n_risk
                    THEN CAST(round(1e9 * ln(1 - CAST(d AS DOUBLE) / n_risk))
                              AS BIGINT)
                    ELSE 0 END AS lns_e9,
               CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dies_out,
               CAST(round(1e9 * (CAST(d AS DOUBLE) / n_risk)) AS BIGINT)
                 AS haz_e9
        FROM risk
    )
    SELECT t, n_risk, d AS d_events, c AS c_censored,
           round(CASE WHEN MAX(dies_out) OVER w = 1 THEN 0.0
                      ELSE exp(CAST(SUM(lns_e9) OVER w AS DOUBLE) / 1e9)
                 END, 6) AS survival,
           round(CAST(SUM(haz_e9) OVER w AS DOUBLE) / 1e9, 6)
             AS cum_hazard
    FROM terms
    WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY t
    """,
    tags=("events", "stats", "window"),
    doc=(
        "Kaplan-Meier time-to-conversion curve + Nelson-Aalen "
        "cumulative hazard (Kaplan & Meier 1958; Aalen 1978): per user, "
        "duration = days from first event to first purchase, censored "
        "at the corpus observation end for never-purchasers; S(t) = "
        "prod(1 - d_s/n_s), H(t) = sum d_s/n_s over event times <= t.  "
        "The survival-analysis primitive product analytics builds "
        "churn/conversion reporting on.  One user-grain hash agg is "
        "the only corpus-scale pass; the KM product runs over the "
        "DURATION grain (bounded by the calendar) as exp(cumsum(ln)) "
        "with per-term nano-quantization so cross-row float order "
        "can't flip a ulp, and a d = n_risk absorbing step pins "
        "survival to exact 0."
    ),
)
def events_kaplan_meier_conversion(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    obs_end = e.agg(F.max("ts").alias("t_end"))
    users = e.groupBy("user_id").agg(
        F.min("ts").alias("t_entry"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purch"),
    )
    durations = users.crossJoin(F.broadcast(obs_end)).select(
        F.when(
            F.col("t_purch").isNotNull(),
            F.datediff(F.to_date("t_purch"), F.to_date("t_entry")),
        )
        .otherwise(F.datediff(F.to_date("t_end"), F.to_date("t_entry")))
        .cast("long")
        .alias("t"),
        F.when(F.col("t_purch").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    grain = materialize(
        durations.groupBy("t")
        .agg(
            F.sum("ev").cast("long").alias("d"),
            F.sum(1 - F.col("ev")).cast("long").alias("c"),
        ),
        "events_kaplan_meier_conversion day counts: totals and the ordered window",
    )
    total = grain.agg(F.sum(F.col("d") + F.col("c")).cast("long").alias("tot"))
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = grain.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        "c",
        (
            F.col("tot")
            - (F.sum(F.col("d") + F.col("c")).over(wcum) - (F.col("d") + F.col("c")))
        ).alias("n_risk"),
    )
    frac = F.col("d").cast("double") / F.col("n_risk")
    terms = risk.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.when(F.col("d") == 0, F.lit(0))
        .when(
            F.col("d") < F.col("n_risk"),
            F.round(1e9 * F.log(1 - frac)).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("lns_e9"),
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0).alias("dies_out"),
        F.round(1e9 * frac).cast("long").alias("haz_e9"),
    )
    return terms.select(
        "t",
        "n_risk",
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.round(
            F.when(F.max("dies_out").over(wcum) == 1, F.lit(0.0)).otherwise(
                F.exp(F.sum("lns_e9").over(wcum).cast("double") / 1e9)
            ),
            6,
        ).alias("survival"),
        F.round(F.sum("haz_e9").over(wcum).cast("double") / 1e9, 6).alias(
            "cum_hazard"
        ),
    ).orderBy("t")


@register(
    "events_longest_daily_streak",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    islands AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS INT) AS grp
        FROM days
    ),
    streaks AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len,
               MIN(d) AS s_start
        FROM islands GROUP BY user_id, grp
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           MAX(len) AS longest_streak_days,
           strftime(MIN(CASE WHEN len = best THEN s_start END), '%Y-%m-%d')
             AS streak_start,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM (SELECT *, MAX(len) OVER (PARTITION BY user_id) AS best FROM streaks)
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("events", "window", "analytics"),
    doc=(
        "Longest consecutive-active-day streak per user (the retention "
        "'islands' metric): dedup to (user, day) grain, then the "
        "classic date-minus-row_number constant identifies each run of "
        "consecutive days, one agg per (user, run) and one per user.  "
        "Earliest start breaks ties between equal-length streaks.  "
        "Everything partitions by user_id — a single user-clustered "
        "exchange serves the row_number, the tie-break window, and "
        "both aggs at any corpus size."
    ),
)
def events_longest_daily_streak(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    islands = days.select(
        "user_id",
        "d",
        F.date_sub(
            "d",
            F.row_number()
            .over(W.partitionBy("user_id").orderBy("d"))
            .cast("int"),
        ).alias("grp"),
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("d").alias("s_start"),
    )
    best = streaks.withColumn(
        "best", F.max("len").over(W.partitionBy("user_id"))
    )
    return (
        best.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak_days"),
            F.date_format(
                F.min(F.when(F.col("len") == F.col("best"), F.col("s_start"))),
                "yyyy-MM-dd",
            ).alias("streak_start"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.sum("len").cast("long").alias("active_days"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "longest_streak_days",
            "streak_start",
            "n_streaks",
            "active_days",
        )
        .orderBy("user_id")
    )


@register(
    "events_cohort_ltv_curve",
    oracle="""
    WITH cohorts AS (
        -- floor(x/7.0), NOT the // operator: DuckDB // truncates
        -- toward zero for negatives while Spark floor()s, so a
        -- pre-anchor date would shift cohorts between engines
        SELECT user_id,
               CAST(MIN(CAST(floor(datediff('day', DATE '2024-01-01',
                                            CAST(ts AS DATE)) / 7.0)
                             AS BIGINT)) AS BIGINT) AS cohort_week
        FROM events GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
        FROM cohorts GROUP BY cohort_week
    ),
    rev AS (
        SELECT c.cohort_week,
               CAST(floor(datediff('day', DATE '2024-01-01',
                                   CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
                 - c.cohort_week AS week_offset,
               CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events e JOIN cohorts c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    ),
    curve AS (
        SELECT r.cohort_week, r.week_offset, s.n_cohort,
               CAST(SUM(r.cents) OVER (PARTITION BY r.cohort_week
                                       ORDER BY r.week_offset) AS BIGINT)
                 AS cum_cents
        FROM rev r JOIN sizes s ON s.cohort_week = r.cohort_week
    )
    SELECT cohort_week, week_offset, n_cohort,
           round(CAST(cum_cents AS DOUBLE) / n_cohort / 100, 6)
             AS cum_ltv_per_user
    FROM curve ORDER BY cohort_week, week_offset
    """,
    tags=("events", "analytics", "window"),
    doc=(
        "Cumulative lifetime-value curves per signup cohort: users "
        "cohorted by first-activity week (the retention-cohort "
        "convention — integer days-div-7, engine-neutral), purchase "
        "revenue accumulated per (cohort, week offset), normalized to "
        "cum LTV per cohort member — the unit-economics companion to "
        "events_retention_cohorts.  One user-grain cohort agg + one "
        "(cohort, offset)-grain revenue agg, then the running sum "
        "windows over the bounded (cohort x offset) grid.  Exact "
        "integer cents throughout; one division at output."
    ),
)
def events_cohort_ltv_curve(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    week = (
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7
        )
    ).cast("long")
    cohorts = e.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (week - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wcum = W.partitionBy("cohort_week").orderBy("week_offset").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_cohort",
            F.sum("cents").over(wcum).cast("long").alias("cum_cents"),
        )
        .select(
            "cohort_week",
            "week_offset",
            "n_cohort",
            F.round(
                F.col("cum_cents").cast("double") / F.col("n_cohort") / 100, 6
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_dau_wau_mau_stickiness",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du),
    dau AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY d
    ),
    wau AS (
        SELECT days.d, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
        FROM days JOIN du
          ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY days.d
    ),
    mau AS (
        SELECT days.d, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS mau
        FROM days JOIN du
          ON du.d BETWEEN days.d - INTERVAL 27 DAY AND days.d
        GROUP BY days.d
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau, mau.mau,
           round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
    FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d
    ORDER BY day
    """,
    tags=("events", "analytics", "distinct"),
    doc=(
        "DAU / trailing-7d WAU / trailing-28d MAU and the DAU/MAU "
        "stickiness ratio per day — the product-health dashboard "
        "primitive.  COUNT(DISTINCT) OVER RANGE is unsupported in "
        "Spark, so both trailing windows use the contribution-explode "
        "rewrite (each (day, user) observation fans out to the days it "
        "serves — 7x and 28x — then hash aggs count distincts), the "
        "window_rolling_7d_distinct_users pattern generalized to two "
        "horizons off ONE deduped (day, user) projection."
    ),
)
def events_dau_wau_mau_stickiness(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    du = materialize(
        e.select(F.to_date("ts").alias("d"), "user_id")
        .distinct(),
        "events_dau_wau_mau_stickiness daily users: dau and both fan-outs",
    )
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))

    def trailing_distinct(n_days, name):
        contrib = du.select(
            F.explode(
                F.sequence(
                    "d", F.date_add("d", n_days - 1), F.expr("interval 1 day")
                )
            ).alias("day"),
            "user_id",
        )
        return (
            contrib.join(days.select(F.col("d").alias("day")), "day", "left_semi")
            .groupBy("day")
            .agg(F.countDistinct("user_id").cast("long").alias(name))
        )

    wau = trailing_distinct(7, "wau")
    mau = trailing_distinct(28, "mau")
    return (
        dau.join(wau, dau.d == wau.day)
        .drop("day")
        .join(mau, dau.d == mau.day)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# ------------------------------------------- activity bitmap profile

def _smear_right_sql(col: str) -> str:
    # OR-smear all set bits downward: 6 doubling steps cover 64 bits,
    # then bit_count - 1 = highest set bit index.  Pure integer ops.
    s = col
    for sh in (1, 2, 4, 8, 16, 32):
        s = f"(({s}) | (({s}) >> {sh}))"
    return s


@register(
    "events_activity_bitmap_profile",
    oracle=f"""
    WITH epoch AS (SELECT MIN(CAST(ts AS DATE)) AS e0 FROM events),
    bm AS (
        SELECT user_id,
               bit_or(CAST(1 AS BIGINT)
                      << date_diff('day', e.e0, CAST(ts AS DATE))) AS bm
        FROM events CROSS JOIN epoch e
        GROUP BY user_id
    ),
    wk AS (
        -- weekend-day mask over the observed span, built once
        SELECT bit_or(CASE WHEN dayofweek(d) IN (0, 6)
                           THEN CAST(1 AS BIGINT)
                                << date_diff('day', e0, d)
                           ELSE 0 END) AS wmask
        FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
        CROSS JOIN epoch
    ),
    prof AS (
        SELECT b.user_id, b.bm, w.wmask,
               CAST(bit_count(b.bm) AS BIGINT) AS n_active_days,
               CAST(bit_count((b.bm & -b.bm) - 1) AS BIGINT) AS first_offset,
               CAST(bit_count({_smear_right_sql('b.bm')}) - 1 AS BIGINT)
                 AS last_offset,
               list_reduce(
                   [[b.bm, CAST(0 AS BIGINT)]]
                   || list_transform(range(1, 33),
                                     i -> [CAST(0 AS BIGINT),
                                           CAST(0 AS BIGINT)]),
                   (acc, x) -> [acc[1] & (acc[1] << 1),
                                acc[2] + CASE WHEN acc[1] <> 0
                                              THEN 1 ELSE 0 END]
               )[2] AS longest_streak
        FROM bm b CROSS JOIN wk w
    )
    SELECT user_id, bm AS bitmap, n_active_days, first_offset, last_offset,
           CAST(longest_streak AS BIGINT) AS longest_streak,
           CAST(bit_count(bm & wmask) AS BIGINT) AS n_weekend_days,
           CAST(bit_count(bm & (CAST(127 AS BIGINT) << first_offset))
                AS BIGINT) AS first_week_days,
           CAST(CASE WHEN (bm & (CAST(127 AS BIGINT)
                                 << (first_offset + 7))) <> 0
                     THEN 1 ELSE 0 END AS BIGINT) AS returned_week2
    FROM prof ORDER BY user_id
    """,
    tags=("events", "analytics", "scale"),
    doc=(
        "Per-user activity BITMAP profile: one bit per day since the "
        "corpus epoch, packed into a BIGINT by a bit_or aggregate — "
        "the bitmap-index technique (roaring-style, one 64-bit word "
        "per <=62-day epoch; this fixture spans 30 days) that turns "
        "every downstream engagement metric into integer bit "
        "arithmetic on ONE user-grain row: active days = popcount, "
        "first/last day = lowbit / OR-smear popcounts, longest streak "
        "= the Kernighan fold y &= y<<1 (iterations until zero, a "
        "bounded higher-order fold), weekend activity and week-1/"
        "week-2 retention = popcounts under broadcast masks.  The only "
        "shuffle is the user-grain bit_or; everything after is "
        "scan-side and exact on both engines.  At 100 TB the bitmap "
        "column is also the compact serialization a feature store "
        "would persist."
    ),
)
def events_activity_bitmap_profile(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    epoch = e.agg(F.min(F.col("ts").cast("date")).alias("e0"))
    days = e.select(F.col("ts").cast("date").alias("d")).distinct()
    bm = (
        e.crossJoin(F.broadcast(epoch))
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("e0"))
            .cast("int")
            .alias("off"),
        )
        .groupBy("user_id")
        .agg(F.expr("bit_or(shiftleft(1L, off))").alias("bm"))
    )
    wk = (
        days.crossJoin(F.broadcast(epoch))
        .select(
            F.datediff(F.col("d"), F.col("e0")).cast("int").alias("off"),
            F.dayofweek("d").alias("dow"),  # Spark: 1=Sunday..7=Saturday
        )
        .agg(
            F.expr(
                "bit_or(CASE WHEN dow IN (1, 7) THEN shiftleft(1L, off)"
                " ELSE 0L END)"
            ).alias("wmask")
        )
    )

    def smear(col):
        s = col
        for sh in (1, 2, 4, 8, 16, 32):
            s = s.bitwiseOR(F.shiftright(s, sh))
        return s

    streak = F.aggregate(
        F.sequence(F.lit(1), F.lit(32)),
        F.array(F.col("bm"), F.lit(0).cast("long")),
        lambda acc, x: F.array(
            acc[0].bitwiseAND(F.shiftleft(acc[0], 1)),
            acc[1] + F.when(acc[0] != 0, 1).otherwise(0),
        ),
    )[1]
    first_off = F.bit_count(
        (F.col("bm").bitwiseAND(-F.col("bm"))) - 1
    ).cast("long")
    prof = (
        bm.crossJoin(F.broadcast(wk))
        .select(
            "user_id",
            "bm",
            "wmask",
            F.bit_count("bm").cast("long").alias("n_active_days"),
            first_off.alias("first_offset"),
            (F.bit_count(smear(F.col("bm"))) - 1).cast("long").alias("last_offset"),
            streak.cast("long").alias("longest_streak"),
        )
    )
    return prof.select(
        "user_id",
        F.col("bm").alias("bitmap"),
        "n_active_days",
        "first_offset",
        "last_offset",
        "longest_streak",
        F.bit_count(F.col("bm").bitwiseAND(F.col("wmask"))).cast("long").alias("n_weekend_days"),
        F.expr(
            "CAST(bit_count(bm & shiftleft(127L,"
            " CAST(first_offset AS INT))) AS BIGINT)"
        ).alias("first_week_days"),
        F.expr(
            "CAST(CASE WHEN (bm & shiftleft(127L,"
            " CAST(first_offset + 7 AS INT))) <> 0 THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("returned_week2"),
    ).orderBy("user_id")


@register(
    "events_decay_engagement_score",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS d1 FROM events),
    scored AS (
        SELECT user_id,
               CAST(round(value * 100) AS HUGEINT)
                 * (CAST(1 AS HUGEINT)
                    << (30 - date_diff('day', CAST(ts AS DATE), a.d1)))
                 AS w,
               CAST(ts AS DATE) AS day
        FROM events CROSS JOIN anchor a
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(day) AS VARCHAR) AS last_active,
           round(CAST(SUM(w) AS DOUBLE) / 1073741824.0 / 100.0, 6)
             AS decay_score
    FROM scored GROUP BY user_id ORDER BY user_id
    """,
    tags=("events", "analytics", "mlprep"),
    doc=(
        "Recency-weighted engagement score: each event contributes "
        "value x 2^(-age_days) (half-life one day), the feature-store "
        "freshness signal behind churn/LTV features.  The EWMA "
        "exactness trick at user grain: weights are EXACT powers of "
        "two carried as scaled integers (cents << (30 - age), "
        "HUGEINT/DECIMAL(38)), so the weighted sum is one order-free "
        "integer agg — no float decay drift, identical on both "
        "engines — and the single division to float happens once per "
        "user at the end.  One scan, one hash agg; the 1-row anchor "
        "broadcasts."
    ),
)
def events_decay_engagement_score(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.col("ts").cast("date")).alias("d1"))
    dec = "decimal(38,0)"
    scored = e.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        (
            F.round(F.col("value") * 100).cast(dec)
            * F.expr(
                "CAST(shiftleft(1L, 30 - datediff(d1, CAST(ts AS DATE)))"
                " AS DECIMAL(38,0))"
            )
        ).cast(dec).alias("w"),
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("day").cast("string").alias("last_active"),
            F.round(
                F.sum("w").cast("double") / 1073741824.0 / 100.0, 6
            ).alias("decay_score"),
        )
        .orderBy("user_id")
    )

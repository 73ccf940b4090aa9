"""Time-series operators: dense-spine gap filling with LOCF and
rolling-window distinct counts.

These are the hypertable-style operations the reference has no analog
for (SURVEY §2.6 flags aggregation/window surface as greenfield): they
matter for event-stream analytics at scale, and both are written so the
expensive part is a plain shuffle aggregation — no per-row Python, no
window over an unpartitioned sort.

Scale notes
-----------
- LOCF gap-fill uses the ANSI "grouping trick" (cumulative count of
  non-null observations defines carry-forward groups) instead of
  ``last(..., ignoreNulls=True)`` so the same plan is expressible in
  the DuckDB oracle verbatim.  The spine is tiny (one row per day) —
  the single-partition window over it is not a bottleneck even when
  the underlying events table is 100 TB, because aggregation to
  day-grain happens first.
- The rolling distinct-user count rewrites COUNT(DISTINCT) OVER RANGE
  (which Spark does not support) as a *contribution explode*: each
  (day, user) observation contributes to the 7 trailing days, then a
  hash aggregation counts distinct users per day.  This turns an
  unsupported window into an embarrassingly parallel shuffle agg whose
  fan-out factor is the window length — the standard trick for
  windowed distincts on large clusters.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.money import cents, cents_sql, money, money_sql
from ..io import materialize, table
from ..registry import register


@register(
    "timeseries_locf_gapfill",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS day, SUM({cents_sql("value")}) AS day_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    sparse AS (
        SELECT spine.day, daily.day_cents,
               COUNT(daily.day_cents) OVER (ORDER BY spine.day) AS grp
        FROM spine LEFT JOIN daily ON spine.day = daily.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COALESCE(MAX(day_cents) OVER (PARTITION BY grp), 0) AS DOUBLE) / 100
             AS purchase_value_locf
    FROM sparse
    ORDER BY day
    """,
    tags=("time", "window"),
    doc=(
        "Dense daily spine + last-observation-carried-forward: sequence/"
        "explode calendar, left join day-grain totals, ANSI grouping-trick "
        "forward fill.  Heavy lifting is one day-grain hash agg."
    ),
)
def timeseries_locf_gapfill(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(cents("value")).alias("day_cents"))
    )
    # cumulative count of non-null observations = carry-forward group id;
    # within a group the only non-null value is the one to carry.
    sparse = spine.join(daily, "day", "left").withColumn(
        "grp", F.count("day_cents").over(W.orderBy("day"))
    )
    # registry convention (registry.py, ref_date_cast): dates cross the
    # oracle boundary as yyyy-MM-dd strings — DuckDB DATE widens to
    # datetime64 in pandas and would mismatch a raw DateType cell-wise.
    return (
        sparse.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (
                F.coalesce(
                    F.max("day_cents").over(W.partitionBy("grp")), F.lit(0)
                ).cast("double")
                / 100
            ).alias("purchase_value_locf"),
        )
        .orderBy("day")
    )


@register(
    "events_hypertable_rollup",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(SUM({cents_sql("value")}) AS BIGINT) AS c, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    daily AS (
        SELECT date_trunc('day', bucket) AS bucket, event_type,
               CAST(SUM(c) AS BIGINT) AS c, CAST(SUM(n) AS BIGINT) AS n
        FROM hourly GROUP BY 1, 2
    ),
    monthly AS (
        SELECT date_trunc('month', bucket) AS bucket, event_type,
               CAST(SUM(c) AS BIGINT) AS c, CAST(SUM(n) AS BIGINT) AS n
        FROM daily GROUP BY 1, 2
    )
    SELECT grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
           {money_sql("c")} AS value_sum, n AS n_events
    FROM (
        SELECT 'hour' AS grain, * FROM hourly
        UNION ALL SELECT 'day', * FROM daily
        UNION ALL SELECT 'month', * FROM monthly
    )
    """,
    tags=("time", "rollup", "scale"),
    doc=(
        "Hypertable-style continuous aggregate: hour/day/month rollups where "
        "each grain re-aggregates the PREVIOUS grain's partials — raw events "
        "are read exactly once (the hour agg), day costs |hours| rows, month "
        "costs |days|.  Contrast GROUPING SETS, which expands every raw row "
        "per grain (3x the shuffle traffic).  Exact integer-cents sums make "
        "the rollup bit-identical to recomputing from raw at any grain."
    ),
)
def events_hypertable_rollup(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.sum(cents("value")).alias("c"), F.count(F.lit(1)).alias("n"))
    daily = hourly.groupBy(
        F.date_trunc("day", "bucket").alias("bucket"), "event_type"
    ).agg(F.sum("c").alias("c"), F.sum("n").alias("n"))
    monthly = daily.groupBy(
        F.date_trunc("month", "bucket").alias("bucket"), "event_type"
    ).agg(F.sum("c").alias("c"), F.sum("n").alias("n"))

    def fmt(df, grain):
        return df.select(
            F.lit(grain).alias("grain"),
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            money(F.col("c")).alias("value_sum"),
            F.col("n").alias("n_events"),
        )

    return fmt(hourly, "hour").unionByName(fmt(daily, "day")).unionByName(
        fmt(monthly, "month")
    )


@register(
    "window_rolling_7d_distinct_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS users_7d
    FROM days JOIN du
      ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d
    """,
    tags=("window", "distinct", "time"),
    doc=(
        "Trailing-7-day distinct users per day.  COUNT(DISTINCT) OVER RANGE "
        "is unsupported in Spark; rewritten as a contribution explode — each "
        "(day,user) fans out to the 7 days it serves, then one hash agg "
        "counts distinct users per day.  Fully parallel at any scale."
    ),
)
def window_rolling_7d_distinct_users(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    actual_days = du.select("d").distinct()
    contrib = du.select(
        F.explode(
            F.sequence("d", F.date_add("d", 6), F.expr("interval 1 day"))
        ).alias("day"),
        "user_id",
    )
    # same registry convention as above: day crosses as a yyyy-MM-dd string.
    return (
        contrib.join(actual_days.withColumnRenamed("d", "day"), "day")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("users_7d"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "users_7d")
    )


@register(
    "timeseries_linear_interpolate",
    oracle="""
    -- floor(epoch(ts)): Spark's ts.cast('long') truncates sub-second
    -- micros while DuckDB's CAST(DOUBLE AS BIGINT) rounds — without the
    -- floor the interpolation weights differ by one second and the
    -- rounded output flips in the last decimal.
    WITH masked AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    walls AS (
        SELECT event_id, user_id, ts, v,
               CAST(floor(epoch(ts)) AS BIGINT) AS t,
               last_value(v IGNORE NULLS) OVER w_prev AS pv,
               last_value(CAST(round(v * 100) AS BIGINT) IGNORE NULLS) OVER w_prev AS pc,
               last_value(CASE WHEN v IS NOT NULL
                               THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
                 OVER w_prev AS pt,
               first_value(v IGNORE NULLS) OVER w_next AS nv,
               first_value(CAST(round(v * 100) AS BIGINT) IGNORE NULLS) OVER w_next AS nc,
               first_value(CASE WHEN v IS NOT NULL
                                THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
                 OVER w_next AS nt
        FROM masked
        WINDOW
          w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_next AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           v IS NULL AS was_missing,
           -- the blend runs in EXACT integer arithmetic (cents-quantized
           -- walls), then one integer round-half-up to 1e-4 and a single
           -- division back to double: a float expression like
           -- pv + (nv-pv)*frac is vulnerable to one engine emitting a
           -- fused multiply-add, which moved a boundary value across the
           -- round(…,4) edge at sf0.1 (1 cell in 100k).  Integer ops have
           -- no ulps; both engines produce identical bits.
           CASE WHEN v IS NOT NULL THEN round(v, 4)
                WHEN nt IS NULL THEN round(pv, 4)
                WHEN pt IS NULL THEN round(nv, 4)
                WHEN nt = pt THEN round(pv, 4)
                ELSE CAST((200 * (pc * (nt - pt) + (nc - pc) * (t - pt))
                           + (nt - pt)) // (2 * (nt - pt)) AS DOUBLE) / 10000.0
           END AS value_filled
    FROM walls
    """,
    tags=("time", "window"),
    doc=(
        "Two-sided linear interpolation of missing per-user values: "
        "last/first non-null walls via IGNORE NULLS windows, then the "
        "time-weighted blend — edges carry the single available wall.  "
        "Two ordered window passes over one shuffle by user_id; no UDF, "
        "no self-join.  (The one-sided variant is timeseries_locf_gapfill.)"
    ),
)
def timeseries_linear_interpolate(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("value"))
    t = F.col("ts").cast("long")
    masked = e.select("event_id", "user_id", "ts", v.alias("v"), t.alias("t"))
    order = [F.col("ts"), F.col("event_id")]
    w_prev = (
        W.partitionBy("user_id").orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_next = (
        W.partitionBy("user_id").orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    from ..functions.money import cents

    t_obs = F.when(F.col("v").isNotNull(), F.col("t"))
    walls = masked.select(
        "event_id", "user_id", "ts", "v", "t",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(cents("v"), ignorenulls=True).over(w_prev).alias("pc"),
        F.last(t_obs, ignorenulls=True).over(w_prev).alias("pt"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(cents("v"), ignorenulls=True).over(w_next).alias("nc"),
        F.first(t_obs, ignorenulls=True).over(w_next).alias("nt"),
    )
    # integer-exact blend: interpolate cents-quantized walls, round half
    # up to 1e-4 with integer division, divide back to double ONCE — no
    # float multiply-add whose last ulp could differ across engines (the
    # reason the earlier pv + (nv-pv)*frac form mismatched 1-in-100k
    # cells at sf0.1: one engine fuses the multiply-add).
    gap = F.col("nt") - F.col("pt")
    num = F.col("pc") * gap + (F.col("nc") - F.col("pc")) * (F.col("t") - F.col("pt"))
    e4 = F.expr("(200 * __num + __gap) div (2 * nullif(__gap, 0))")
    filled = (
        F.when(F.col("v").isNotNull(), F.round("v", 4))
        .when(F.col("nt").isNull(), F.round("pv", 4))
        .when(F.col("pt").isNull(), F.round("nv", 4))
        .when(F.col("nt") == F.col("pt"), F.round("pv", 4))
        .otherwise(F.col("__e4").cast("double") / F.lit(10000.0))
    )
    return (
        walls.withColumn("__gap", gap)
        .withColumn("__num", num)
        .withColumn("__e4", e4)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.col("v").isNull().alias("was_missing"),
            filled.alias("value_filled"),
        )
    )


# --------------------------------------------------------------- EWMA

# Exponentially weighted moving average, alpha = 1/2, truncated at 16
# lags.  With alpha = 1/2 every weight is a power of two, so scaling by
# 2^15 makes them exact INTEGERS (32768, 16384, ..., 1): numerator and
# denominator are plain BIGINT window sums — no float rounding anywhere
# until the single division at the end, which both engines perform on
# identical bigint inputs.  Truncation error is bounded by 2^-16 of the
# oldest mass (documented; the untruncated tail weight is < 0.002%).
_EWMA_LAGS = 16


def _ewma_terms_sql() -> tuple[str, str]:
    """DuckDB (numerator, denominator) window-sum expressions."""
    num, den = [], []
    for k in range(_EWMA_LAGS):
        w = 1 << (_EWMA_LAGS - 1 - k)
        lag = f"lag(v_cents, {k}) OVER w" if k else "v_cents"
        num.append(f"COALESCE({lag} * {w}, 0)")
        den.append(f"CASE WHEN {lag} IS NOT NULL THEN {w} ELSE 0 END")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _ewma_terms_sql()


@register(
    "timeseries_ewma",
    oracle=f"""
    WITH purchases AS (
        SELECT event_id, user_id, ts, {cents_sql("value")} AS v_cents, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           value,
           round((CAST({_EWMA_NUM_SQL} AS DOUBLE)
                  / CAST({_EWMA_DEN_SQL} AS DOUBLE)) / 100.0, 6) AS ewma_value
    FROM purchases
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("time", "window"),
    doc=(
        "Per-user EWMA (alpha=1/2) of purchase values, truncated at 16 "
        "lags so the weights 2^15..2^0 are exact integers: numerator "
        "and denominator are BIGINT window sums over 16 lag() columns "
        "sharing ONE (user_id) shuffle and ONE sort — linear work, "
        "integer-exact across engines, one double division at the end.  "
        "The fixed-lag rewrite is what makes EWMA (an inherently "
        "recursive smoother) expressible as a bounded window instead of "
        "a sequential scan — the standard trick for running it "
        "embarrassingly parallel on a 100 TB event log."
    ),
)
def timeseries_ewma(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    base = e.select(
        "event_id", "user_id", "ts", "value", cents("value").alias("v_cents")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num, den = F.lit(0), F.lit(0)
    for k in range(_EWMA_LAGS):
        wt = 1 << (_EWMA_LAGS - 1 - k)
        lagged = F.lag("v_cents", k).over(w) if k else F.col("v_cents")
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
    return base.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "value",
        F.round((num.cast("double") / den.cast("double")) / 100.0, 6).alias("ewma_value"),
    )


# ----------------------------------------- seasonal decomposition

@register(
    "timeseries_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    trended AS (
        SELECT day, v_cents,
               CASE WHEN COUNT(*) OVER w7 = 7
                    THEN (200 * SUM(v_cents) OVER w7 + 7) // 14
               END AS trend_e4
        FROM daily
        WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT day, v_cents, trend_e4,
               CAST(strftime(day, '%w') AS BIGINT) AS dow,
               100 * v_cents - trend_e4 AS det_e4
        FROM trended
    ),
    seasonal AS (
        SELECT dow,
               round(CAST(SUM(det_e4) AS DOUBLE) / COUNT(det_e4) / 10000, 6)
                 AS s_dow
        FROM det WHERE det_e4 IS NOT NULL GROUP BY dow
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(d.v_cents AS DOUBLE) / 100 AS value,
           CAST(d.trend_e4 AS DOUBLE) / 10000 AS trend,
           s.s_dow AS seasonal,
           round(CAST(d.det_e4 AS DOUBLE) / 10000 - s.s_dow, 6) AS residual
    FROM det d JOIN seasonal s ON d.dow = s.dow
    ORDER BY day
    """,
    tags=("time", "window", "stats"),
    doc=(
        "Classical additive seasonal decomposition of the daily purchase "
        "series: trend = centered 7-day moving average (integer round-"
        "half-up in e4 units, NULL where the window is partial), "
        "seasonal = day-of-week mean of the detrended series, residual = "
        "remainder.  All heavy work happens at DAY grain after one hash "
        "agg of the raw events; the windows run over the tiny day spine "
        "(same scale argument as timeseries_locf_gapfill), and the 7-row "
        "seasonal table broadcasts back.  Detrending is exact integer "
        "arithmetic; the only float steps run on identical inputs in "
        "both engines."
    ),
)
def timeseries_seasonal_decompose(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(cents("value")).alias("v_cents"))
    )
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    trended = daily.withColumn(
        "trend_e4",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.expr("(200 * sum(v_cents) OVER (ORDER BY day "
                   "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) + 7) div 14"),
        ),
    )
    det = materialize(
        trended.select(
            "day",
            "v_cents",
            "trend_e4",
            (F.dayofweek("day") - 1).cast("long").alias("dow"),
            (100 * F.col("v_cents") - F.col("trend_e4")).alias("det_e4"),
        ),
        "timeseries_seasonal_decompose detrended days: seasonal means and output",
    )
    seasonal = (
        det.filter(F.col("det_e4").isNotNull())
        .groupBy("dow")
        .agg(
            F.round(
                F.sum("det_e4").cast("double") / F.count("det_e4") / 10000, 6
            ).alias("s_dow")
        )
    )
    return (
        det.join(F.broadcast(seasonal), "dow")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("v_cents").cast("double") / 100).alias("value"),
            (F.col("trend_e4").cast("double") / 10000).alias("trend"),
            F.col("s_dow").alias("seasonal"),
            F.round(
                F.col("det_e4").cast("double") / 10000 - F.col("s_dow"), 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


# ------------------------------------------- lagged cross-correlation

_XCORR_MAX_LAG = 7

_XCORR_R_SQL = (
    "round((n * s_xy - s_x * s_y)"
    " / sqrt((n * s_xx - s_x * s_x) * (n * s_yy - s_y * s_y)), 6)"
)


@register(
    "timeseries_cross_correlation_lag",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS s_cnt,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS p_cnt
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(0, {_XCORR_MAX_LAG + 1})) AS lag),
    pairs AS (
        SELECT l.lag, a.s_cnt AS x, b.p_cnt AS y
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
    ),
    moments AS (
        SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS s_x, CAST(SUM(y) AS DOUBLE) AS s_y,
               CAST(SUM(x * y) AS DOUBLE) AS s_xy,
               CAST(SUM(x * x) AS DOUBLE) AS s_xx,
               CAST(SUM(y * y) AS DOUBLE) AS s_yy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
           {_XCORR_R_SQL} AS r
    FROM moments ORDER BY lag
    """,
    tags=("time", "stats"),
    doc=(
        "Lagged cross-correlation between daily signup and purchase "
        "counts (lead/lag discovery: does a signup spike predict a "
        "purchase spike k days later?).  One day-grain hash agg of the "
        "raw events, then an 8-lag self-join over the tiny day spine; "
        "Pearson r per lag from exact integer moments (the "
        "stats_exact_correlation pattern).  At 100 TB only the first "
        "agg touches raw rows."
    ),
)
def timeseries_cross_correlation_lag(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    daily = materialize(
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "signup", 1).otherwise(0)
            ).alias("s_cnt"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("p_cnt"),
        ),
        "timeseries_cross_correlation_lag days: both lag join sides",
    )
    lags = spark.range(_XCORR_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(
            b,
            F.col("b.day")
            == F.expr("date_add(a.day, CAST(lag AS INT))"),
        )
        .select("lag", F.col("a.s_cnt").alias("x"), F.col("b.p_cnt").alias("y"))
    )
    moments = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("s_x"),
        F.sum("y").cast("double").alias("s_y"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("s_xy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("s_xx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("s_yy"),
    )
    return moments.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n"),
        F.expr(_XCORR_R_SQL).alias("r"),
    ).orderBy("lag")


@register(
    "timeseries_spike_detector",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE event_type = 'error' GROUP BY 1
    ),
    walls AS (
        SELECT day, n,
               CAST(SUM(n) OVER w AS BIGINT) AS s,
               CAST(SUM(n * n) OVER w AS BIGINT) AS ss,
               CAST(COUNT(*) OVER w AS BIGINT) AS k
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n,
           CAST(s AS BIGINT) AS trailing_sum, k AS trailing_days,
           CASE WHEN k >= 3 THEN round(
               (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / k)
               / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / k)
                      / (k - 1) + 1e-9), 4)
           END AS spike_z,
           CASE WHEN k >= 3 THEN
               (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / k)
               / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / k)
                      / (k - 1) + 1e-9) > 3.0
           ELSE FALSE END AS is_spike
    FROM walls ORDER BY day
    """,
    tags=("time", "window", "anomaly"),
    doc=(
        "Operational spike detection on the daily error-event series: "
        "each day scores against the TRAILING 7-day window only "
        "(preceding frame — no look-ahead leakage, the correct form "
        "for an online monitor), with exact integer sum/sum-of-squares "
        "walls and one float z evaluation; the first 2 warm-up days "
        "abstain.  Day-grain agg first, windows over the tiny day "
        "spine — same scale argument as the decomposition."
    ),
)
def timeseries_spike_detector(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.orderBy("day").rowsBetween(-7, -1)
    walls = daily.select(
        "day",
        "n",
        F.sum("n").over(w).cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).over(w).cast("long").alias("ss"),
        F.count(F.lit(1)).over(w).cast("long").alias("k"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    kd = F.col("k").cast("double")
    z = (nd - sd / kd) / F.sqrt((ssd - sd * F.col("s") / kd) / (kd - 1) + 1e-9)
    return walls.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.col("s").alias("trailing_sum"),
        F.col("k").alias("trailing_days"),
        F.when(F.col("k") >= 3, F.round(z, 4)).alias("spike_z"),
        F.when(F.col("k") >= 3, z > 3.0).otherwise(F.lit(False)).alias("is_spike"),
    ).orderBy("day")


@register(
    "timeseries_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CAST(rev_c AS HUGEINT)) AS HUGEINT) AS grand
        FROM daily
    ),
    walked AS (
        -- CUSUM against the series mean, scaled by n_days so every
        -- intermediate stays an exact integer:
        --   S_i * n = n * cumsum_i - i * grand
        SELECT day,
               CAST(tot.n_days AS HUGEINT)
                 * SUM(CAST(rev_c AS HUGEINT)) OVER (ORDER BY day)
               - CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) * tot.grand
                 AS s_scaled,
               tot.n_days, tot.grand
        FROM daily CROSS JOIN tot
    )
    SELECT strftime(day, '%Y-%m-%d') AS changepoint_day,
           n_days,
           round(CAST(abs(s_scaled) AS DOUBLE) / n_days / 100.0, 2)
             AS max_cusum_dollars,
           round(CAST(grand AS DOUBLE) / n_days / 100.0, 2) AS daily_mean_dollars
    FROM walked
    ORDER BY abs(s_scaled) DESC, day
    LIMIT 1
    """,
    tags=("timeseries", "window", "stats"),
    doc=(
        "CUSUM changepoint detection on daily order revenue (Page 1954): "
        "the cumulative sum of deviations from the series mean peaks at "
        "the most likely level-shift point.  Scaling by n_days keeps "
        "every partial sum an exact 128-bit integer (S_i*n = n*cumsum_i "
        "- i*grand), so the argmax is order-independent and engine-"
        "exact — no float accumulation across the series.  Day-grain "
        "agg first; the ordered window runs over the tiny day spine "
        "(the decomposition/spike-detector scale argument)."
    ),
)
def timeseries_cusum_changepoint(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    daily = materialize(
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("rev_c")),
        "timeseries_cusum_changepoint days: totals and the CUSUM walk",
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("grand"),
    )
    wd = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    walked = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_days",
        "grand",
        (
            F.col("n_days").cast("decimal(38,0)")
            * F.sum(F.col("rev_c").cast("decimal(38,0)")).over(wd)
            - F.row_number().over(W.orderBy("day")).cast("decimal(38,0)")
            * F.col("grand")
        ).alias("s_scaled"),
    )
    return (
        walked.orderBy(F.abs(F.col("s_scaled")).desc(), "day")
        .limit(1)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
            "n_days",
            F.round(
                F.abs(F.col("s_scaled")).cast("double")
                / F.col("n_days")
                / 100.0,
                2,
            ).alias("max_cusum_dollars"),
            F.round(
                F.col("grand").cast("double") / F.col("n_days") / 100.0, 2
            ).alias("daily_mean_dollars"),
        )
    )


@register(
    "timeseries_theil_sen_slope",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    slopes AS (
        SELECT CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
        FROM daily a JOIN daily b ON b.x > a.x
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5) / 100.0, 6) AS sen_slope_dollars
    FROM slopes
    """,
    tags=("timeseries", "stats"),
    doc=(
        "Theil-Sen robust trend estimator on daily order revenue (Sen "
        "1968): the median of all pairwise slopes — immune to the "
        "outlier days that wreck OLS.  The O(n^2) pair enumeration runs "
        "at DAY grain over the checkpointed spine, so pair count is "
        "fixed by the calendar (n_days^2, SF-independent), not the "
        "corpus: the fact contributes one scan + one day-grain agg at "
        "any scale.  Slopes are exact-integer differences divided once "
        "(identical doubles both engines); the median interpolates over "
        "the same multiset."
    ),
)
def timeseries_theil_sen_slope(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    daily = materialize(
        o.groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01"))
            .cast("long")
            .alias("x")
        )
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("y")),
        "timeseries_theil_sen_slope days: both pair sides",
    )
    a = daily.select(F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = daily.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    slopes = a.join(b, F.col("x2") > F.col("x1")).select(
        (
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("x2") - F.col("x1"))
        ).alias("slope")
    )
    return slopes.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)") / 100.0, 6).alias(
            "sen_slope_dollars"
        ),
    )


_ACF_MAX_LAG = 10


@register(
    "timeseries_acf",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    bounds AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM daily),
    spine AS (
        SELECT CAST(d0.day AS BIGINT) - (SELECT lo FROM bounds) AS t,
               COALESCE(d.x, 0) AS x
        FROM (SELECT unnest(range((SELECT lo FROM bounds),
                                  (SELECT hi FROM bounds) + 1)) AS day) d0
        LEFT JOIN daily d ON d.t = d0.day
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s FROM spine),
    centered AS (
        SELECT t, CAST(n * x - s AS BIGINT) AS c FROM spine, tot
    ),
    den AS (
        SELECT SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS d2
        FROM centered
    ),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
    num AS (
        SELECT l.lag,
               SUM(CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT)) AS n2,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM lags l
        JOIN centered a ON TRUE
        JOIN centered b ON b.t = a.t + CAST(l.lag AS BIGINT)
        GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           round(CAST(n2 AS DOUBLE) / CAST(d2 AS DOUBLE), 6) AS acf
    FROM num, den ORDER BY lag
    """,
    tags=("timeseries", "stats"),
    doc=(
        "Autocorrelation function of daily order revenue at lags 1-10 "
        "(Box-Jenkins model identification: the seasonality/memory "
        "diagnostic): r_k = sum (x_t - mean)(x_t+k - mean) / sum "
        "(x_t - mean)^2 over the zero-filled day spine — the GLOBAL-"
        "mean, fixed-denominator estimator, distinct from the per-lag "
        "Pearson of timeseries_cross_correlation_lag.  The fact "
        "aggregates to day grain ONCE (the only scan that touches raw "
        "rows at 100 TB); everything after runs on the checkpointed "
        "calendar-bounded spine.  Exactness: centering is cleared of "
        "division by multiplying through by n (c_t = n*x_t - S, an "
        "exact BIGINT), products/sums ride decimal(38)/HUGEINT, and "
        "each r_k is ONE division of identical integers-as-doubles."
    ),
)
def timeseries_acf(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    daily = materialize(
        o.groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01"))
            .cast("long")
            .alias("t")
        )
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("x")),
        "timeseries_acf days: bounds, spine join and totals",
    )
    bounds = daily.agg(
        F.min("t").alias("lo"), F.max("t").alias("hi")
    )
    spine = (
        F.broadcast(bounds)
        .select(F.explode(F.sequence("lo", "hi")).alias("d"), "lo")
        .join(daily, F.col("d") == F.col("t"), "left")
        .select(
            (F.col("d") - F.col("lo")).alias("t"),
            F.coalesce("x", F.lit(0)).alias("x"),
        )
    )
    tot = spine.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    centered = materialize(
        spine.crossJoin(F.broadcast(tot))
        .select("t", (F.col("n") * F.col("x") - F.col("s")).alias("c")),
        "timeseries_acf centered days: denominator and both join sides",
    )
    dec = lambda col: F.col(col).cast("decimal(18,0)")  # noqa: E731
    den = centered.agg(
        F.sum(dec("c") * dec("c")).alias("d2")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = centered.select(F.col("t").alias("ta"), F.col("c").alias("ca"))
    b = centered.select(F.col("t").alias("tb"), F.col("c").alias("cb"))
    num = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(dec("ca") * dec("cb")).alias("n2"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            F.round(
                F.col("n2").cast("double") / F.col("d2").cast("double"), 6
            ).alias("acf"),
        )
        .orderBy("lag")
    )


@register(
    "intervals_merge_overlaps",
    oracle="""
    WITH iv AS (
        SELECT l_suppkey AS s, CAST(l_shipdate AS DATE) AS lo,
               CAST(l_shipdate AS DATE) + 3 AS hi
        FROM lineitem WHERE l_suppkey % 10 = 0
    ),
    flagged AS (
        SELECT s, lo, hi,
               CASE WHEN lo > MAX(hi) OVER (
                        PARTITION BY s ORDER BY lo, hi
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT s, lo, hi,
               SUM(new_island) OVER (
                   PARTITION BY s ORDER BY lo, hi
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    )
    SELECT CAST(s AS BIGINT) AS suppkey,
           strftime(MIN(lo), '%Y-%m-%d') AS busy_from,
           strftime(MAX(hi), '%Y-%m-%d') AS busy_until,
           CAST(COUNT(*) AS BIGINT) AS n_shipments,
           CAST(date_diff('day', MIN(lo), MAX(hi)) + 1 AS BIGINT) AS span_days
    FROM islands
    GROUP BY s, island
    ORDER BY suppkey, busy_from
    """,
    tags=("timeseries", "window", "interval"),
    doc=(
        "Overlapping-interval coalescing (gaps-and-islands): merge each "
        "sampled supplier's 3-day shipment handling windows into "
        "maximal disjoint intervals — the interval-union operator "
        "Spark/SQL lack natively (calendar consolidation, downtime "
        "merging, session stitching at day grain).  Islands via the "
        "running-max trick: a row opens a new island iff its start "
        "exceeds MAX(end) over all preceding rows in (start, end) "
        "order; the island id is then a running sum of those flags and "
        "one hash agg per (supplier, island) emits the merged spans.  "
        "Both windows partition BY SUPPLIER — per-partition work is the "
        "supplier's own shipment count, so the plan is a filter + two "
        "partitioned windows + one agg, no self-join and nothing "
        "global, at any corpus size.  Dates stay dates; span arithmetic "
        "is exact integer days."
    ),
)
def intervals_merge_overlaps(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 10 == 0)
    iv = li.select(
        F.col("l_suppkey").alias("s"),
        F.to_date("l_shipdate").alias("lo"),
        F.date_add(F.to_date("l_shipdate"), 3).alias("hi"),
    )
    order = W.partitionBy("s").orderBy("lo", "hi")
    prev_max = F.max("hi").over(
        order.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "s",
        "lo",
        "hi",
        F.when(F.col("lo") > prev_max, 1).otherwise(0).alias("new_island"),
    )
    islands = flagged.select(
        "s",
        "lo",
        "hi",
        F.sum("new_island")
        .over(order.rowsBetween(W.unboundedPreceding, 0))
        .alias("island"),
    )
    return (
        islands.groupBy("s", "island")
        .agg(
            F.date_format(F.min("lo"), "yyyy-MM-dd").alias("busy_from"),
            F.date_format(F.max("hi"), "yyyy-MM-dd").alias("busy_until"),
            F.count(F.lit(1)).cast("long").alias("n_shipments"),
            (F.datediff(F.max("hi"), F.min("lo")) + 1)
            .cast("long")
            .alias("span_days"),
        )
        .select(
            F.col("s").cast("long").alias("suppkey"),
            "busy_from",
            "busy_until",
            "n_shipments",
            "span_days",
        )
        .orderBy("suppkey", "busy_from")
    )


@register(
    "intervals_overlap_join",
    oracle="""
    WITH a AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS lo,
               CAST(o_orderdate AS DATE) + 6 AS hi
        FROM orders WHERE o_orderkey % 101 = 0
    ),
    b AS (
        SELECT l_orderkey * 10 + l_linenumber AS b_id, l_suppkey,
               CAST(l_shipdate AS DATE) AS lo,
               CAST(l_shipdate AS DATE) + 3 AS hi
        FROM lineitem WHERE l_suppkey % 25 = 0
    )
    SELECT a.o_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_overlapping,
           CAST(COUNT(DISTINCT b.l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(MIN(b.b_id) AS BIGINT) AS first_b_id
    FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi
    GROUP BY a.o_orderkey
    ORDER BY a.o_orderkey
    """,
    tags=("join", "interval", "scale"),
    doc=(
        "Interval OVERLAP join (the general two-set companion to "
        "range_join/band_join/asof): every sampled order week is "
        "matched with every supplier handling window it overlaps.  "
        "Spark-first: both sides explode to the 7-day grid buckets "
        "they COVER (a week-long interval touches <= 2 buckets, a "
        "4-day one <= 2), the candidate join is a plain EQUI hash "
        "join on the bucket key, duplicates from multi-bucket "
        "intervals collapse with one distinct, and the exact overlap "
        "predicate re-verifies each candidate — the standard interval "
        "blocking that turns an O(|A|x|B|) theta join into O(|A| x "
        "local density), the same grid discipline as geo_knn_grid_"
        "join.  The oracle runs the naive theta join (fixture-scale) "
        "over identical date arithmetic."
    ),
)
def intervals_overlap_join(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 101 == 0)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 25 == 0)
    epoch = F.lit("1992-01-01")
    a = o.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("a_lo"),
        F.date_add(F.to_date("o_orderdate"), 6).alias("a_hi"),
    )
    b = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("b_id"),
        "l_suppkey",
        F.to_date("l_shipdate").alias("b_lo"),
        F.date_add(F.to_date("l_shipdate"), 3).alias("b_hi"),
    )

    def with_buckets(df, lo, hi):
        return df.select(
            "*",
            F.explode(
                F.sequence(
                    (F.datediff(lo, epoch) / 7).cast("long"),
                    (F.datediff(hi, epoch) / 7).cast("long"),
                )
            ).alias("bucket"),
        )

    cand = (
        with_buckets(a, F.col("a_lo"), F.col("a_hi"))
        .join(with_buckets(b, F.col("b_lo"), F.col("b_hi")), "bucket")
        .filter((F.col("a_lo") <= F.col("b_hi")) & (F.col("b_lo") <= F.col("a_hi")))
        .select("o_orderkey", "b_id", "l_suppkey")
        .distinct()
    )
    return (
        cand.groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_overlapping"),
            F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
            F.min("b_id").cast("long").alias("first_b_id"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "intervals_concurrency_profile",
    oracle="""
    WITH iv AS (
        SELECT l_suppkey AS s, CAST(l_shipdate AS DATE) AS lo,
               CAST(l_shipdate AS DATE) + 3 AS hi
        FROM lineitem WHERE l_suppkey % 10 = 0
    ),
    deltas AS (
        SELECT s, lo AS d, CAST(1 AS BIGINT) AS delta FROM iv
        UNION ALL
        SELECT s, hi + 1, CAST(-1 AS BIGINT) FROM iv
    ),
    day_grain AS (
        SELECT s, d, CAST(SUM(delta) AS BIGINT) AS delta
        FROM deltas GROUP BY s, d
    ),
    running AS (
        SELECT s, d,
               CAST(SUM(delta) OVER (PARTITION BY s ORDER BY d) AS BIGINT)
                 AS concurrent
        FROM day_grain
    )
    SELECT CAST(s AS BIGINT) AS suppkey,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
           strftime(MIN(CASE WHEN concurrent = best THEN d END), '%Y-%m-%d')
             AS peak_start,
           CAST(COUNT(*) AS BIGINT) AS n_change_points
    FROM (SELECT *, MAX(concurrent) OVER (PARTITION BY s) AS best
          FROM running)
    GROUP BY s ORDER BY suppkey
    """,
    tags=("timeseries", "window", "interval"),
    doc=(
        "Sweep-line interval concurrency (the +1/-1 prefix-sum "
        "classic): per sampled supplier, the peak number of "
        "simultaneously open 3-day handling windows and when it first "
        "occurs — resource-occupancy profiling (concurrent jobs, open "
        "sessions, room bookings) without expanding intervals to their "
        "covered days.  Each interval contributes exactly TWO delta "
        "rows (+1 at start, -1 past end), deltas collapse to day grain "
        "with one hash agg, and the running sum windows partition BY "
        "SUPPLIER — O(intervals) total work, never O(interval x "
        "span).  The companion to intervals_merge_overlaps (union) "
        "and intervals_overlap_join (pairing)."
    ),
)
def intervals_concurrency_profile(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 10 == 0)
    iv = li.select(
        F.col("l_suppkey").alias("s"),
        F.to_date("l_shipdate").alias("lo"),
        F.date_add(F.to_date("l_shipdate"), 3).alias("hi"),
    )
    deltas = iv.select(
        "s", F.col("lo").alias("d"), F.lit(1).cast("long").alias("delta")
    ).unionAll(
        iv.select(
            "s",
            F.date_add("hi", 1).alias("d"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    day_grain = deltas.groupBy("s", "d").agg(
        F.sum("delta").cast("long").alias("delta")
    )
    wrun = W.partitionBy("s").orderBy("d").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    running = day_grain.select(
        "s", "d", F.sum("delta").over(wrun).cast("long").alias("concurrent")
    )
    best = running.withColumn(
        "best", F.max("concurrent").over(W.partitionBy("s"))
    )
    return (
        best.groupBy("s")
        .agg(
            F.max("concurrent").cast("long").alias("peak_concurrent"),
            F.date_format(
                F.min(
                    F.when(F.col("concurrent") == F.col("best"), F.col("d"))
                ),
                "yyyy-MM-dd",
            ).alias("peak_start"),
            F.count(F.lit(1)).cast("long").alias("n_change_points"),
        )
        .select(
            F.col("s").cast("long").alias("suppkey"),
            "peak_concurrent",
            "peak_start",
            "n_change_points",
        )
        .orderBy("suppkey")
    )


# ------------------------------------------------- Holt linear trend

# state as [level, trend] LIST, not a struct: a DuckDB 1.0 struct-literal
# lambda quirk resolves acc.<field> inside a later field expression to the
# just-computed sibling field of the SAME literal when the shared
# subexpression matches, silently corrupting the fold.  List indexing has
# no field names to alias.  'b' uses the algebraically expanded form
# (x - l + b)/4 + b/2 == ((x+l+b)/2 - l)/2 + b/2 (exact: /2 and /4 are
# exact in binary floats).
_HOLT_MERGE_SQL = (
    "(acc, x) -> [(x[1] + acc[1] + acc[2]) / 2, "
    "(x[1] - acc[1] + acc[2]) / 4 + acc[2] / 2]"
)


@register(
    "timeseries_holt_linear",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM({cents_sql("value")}) AS BIGINT) AS v_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    packed AS (
        SELECT list(CAST(v_cents AS DOUBLE) ORDER BY day) AS ys,
               list(day ORDER BY day) AS days,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM daily
    ),
    fits AS (
        SELECT p.n, p.days, p.ys,
               i.i AS idx,
               list_reduce(
                   list_transform(p.ys[1:i.i], y -> [y, CAST(0.0 AS DOUBLE)]),
                   {_HOLT_MERGE_SQL}
               ) AS st
        FROM packed p
        CROSS JOIN (SELECT unnest(range(1, 1000)) AS i) i
        WHERE i.i <= p.n AND i.i > p.n - 10
    ),
    final AS (SELECT * FROM fits WHERE idx = n)
    SELECT strftime(f.days[f.idx], '%Y-%m-%d') AS day, 'fit' AS kind,
           round(f.ys[f.idx] / 100.0, 2) AS actual,
           round(f.st[1] / 100.0, 4) AS level,
           round(f.st[2] / 100.0, 4) AS trend
    FROM fits f
    UNION ALL
    SELECT strftime(fi.days[CAST(fi.n AS INT)] + CAST(h.h AS INT), '%Y-%m-%d'),
           'forecast', NULL,
           round((fi.st[1] + h.h * fi.st[2]) / 100.0, 4), round(fi.st[2] / 100.0, 4)
    FROM final fi CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h
    ORDER BY day, kind
    """,
    tags=("time", "stats"),
    doc=(
        "Holt double-exponential smoothing (Holt 1957, alpha=beta=1/2) "
        "of daily purchase revenue: last-10-day fitted level/trend plus "
        "a 7-day linear forecast.  The recursion runs over the BOUNDED "
        "day spine, not over rows — one hash agg collapses any event "
        "volume to day grain, the spine packs into one array, and the "
        "level/trend fold is a higher-order aggregate (list_reduce / "
        "F.aggregate) whose left-to-right IEEE evaluation is identical "
        "in both engines, so the smoothed states replay bit-exactly "
        "(halving is exact in binary floats).  The day count — not the "
        "data volume — bounds the sequential work, which is what makes "
        "a recursive smoother legitimate at 100 TB."
    ),
)
def timeseries_holt_linear(spark, sf_dir):
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(cents("value")).cast("long").alias("v_cents")
    )
    packed = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "v_cents"))).alias("arr")
    ).select(
        F.transform("arr", lambda s: s["v_cents"].cast("double")).alias("ys"),
        F.transform("arr", lambda s: s["day"]).alias("days"),
        F.size("arr").cast("long").alias("n"),
    )

    def merge(acc, x):
        # x is the raw y value (the oracle folds [y, 0] lists, but
        # only x[1] is ever read — same arithmetic, same op order)
        return F.array(
            (x + acc[0] + acc[1]) / 2,
            (x - acc[0] + acc[1]) / 4 + acc[1] / 2,
        )

    def state_at(i):
        # fold ys[2..i] from init [ys[1], 0]: identical arithmetic to
        # the oracle's first-element-as-init list_reduce
        init = F.array(F.col("ys")[0], F.lit(0.0))
        return F.aggregate(F.slice("ys", 2, i - 1), init, merge)

    fits = materialize(
        packed.select(
            "n",
            "days",
            "ys",
            F.explode(
                F.sequence(F.greatest(F.col("n") - 9, F.lit(1)), F.col("n"))
            ).alias("idx"),
        )
        .select(
            "n",
            "days",
            "ys",
            "idx",
            state_at(F.col("idx").cast("int")).alias("st"),
        ),
        "timeseries_holt_linear states: fit rows and the final forecast",
    )
    fit_rows = fits.select(
        F.date_format(F.element_at("days", F.col("idx").cast("int")), "yyyy-MM-dd").alias("day"),
        F.lit("fit").alias("kind"),
        F.round(F.element_at("ys", F.col("idx").cast("int")) / 100.0, 2).alias("actual"),
        F.round(F.col("st")[0] / 100.0, 4).alias("level"),
        F.round(F.col("st")[1] / 100.0, 4).alias("trend"),
    )
    final = fits.where(F.col("idx") == F.col("n"))
    fc_rows = final.select(
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("h"),
        F.element_at("days", F.col("n").cast("int")).alias("last_day"),
        F.col("st")[0].alias("l"),
        F.col("st")[1].alias("b"),
    ).select(
        F.date_format(F.date_add("last_day", F.col("h").cast("int")), "yyyy-MM-dd").alias("day"),
        F.lit("forecast").alias("kind"),
        F.lit(None).cast("double").alias("actual"),
        F.round((F.col("l") + F.col("h") * F.col("b")) / 100.0, 4).alias("level"),
        F.round(F.col("b") / 100.0, 4).alias("trend"),
    )
    return fit_rows.unionByName(fc_rows).orderBy("day", "kind")


@register(
    "timeseries_seasonal_naive_mase",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM({cents_sql("value")}) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, day, c,
               lag(c, 7) OVER (PARTITION BY event_type ORDER BY day) AS c_s,
               lag(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS c_1
        FROM daily
    ),
    ev AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(SUM(ABS(c - c_s)) AS BIGINT) AS sae_seasonal,
               CAST(SUM(ABS(c - c_1)) AS BIGINT) AS sae_naive
        FROM lagged WHERE c_s IS NOT NULL AND c_1 IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_eval,
           round(CAST(sae_seasonal AS DOUBLE) / n_eval / 100.0, 4)
             AS mae_seasonal,
           round(CAST(sae_naive AS DOUBLE) / n_eval / 100.0, 4) AS mae_naive1,
           round(CAST(sae_seasonal AS DOUBLE) / CAST(sae_naive AS DOUBLE), 6)
             AS mase
    FROM ev ORDER BY event_type
    """,
    tags=("time", "window", "stats"),
    doc=(
        "Seasonal-naive (t-7) forecast backtest scored by MASE "
        "(Hyndman & Koehler 2006): per event type, forecast each day's "
        "value with the same weekday last week and scale its MAE by the "
        "one-step naive MAE — the standard scale-free baseline every "
        "production forecast must beat before shipping.  The corpus-"
        "scale work is ONE day-grain hash agg (exact integer cents); "
        "both lag windows then run over the tiny per-type daily series "
        "(rows = days, not events), so the plan is agg-then-window like "
        "timeseries_locf_gapfill and the absolute-error sums stay exact "
        "BIGINT end to end — MASE's numerator and denominator are "
        "integer-exact, with one double division per type at the end."
    ),
)
def timeseries_seasonal_naive_mase(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(cents("value")).cast("long").alias("c")
    )
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "c",
        F.lag("c", 7).over(w).alias("c_s"),
        F.lag("c", 1).over(w).alias("c_1"),
    )
    ev = (
        lagged.filter(F.col("c_s").isNotNull() & F.col("c_1").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(F.abs(F.col("c") - F.col("c_s"))).cast("long").alias("sae_seasonal"),
            F.sum(F.abs(F.col("c") - F.col("c_1"))).cast("long").alias("sae_naive"),
        )
    )
    return ev.select(
        "event_type",
        "n_eval",
        F.round(F.col("sae_seasonal").cast("double") / F.col("n_eval") / 100.0, 4).alias(
            "mae_seasonal"
        ),
        F.round(F.col("sae_naive").cast("double") / F.col("n_eval") / 100.0, 4).alias(
            "mae_naive1"
        ),
        F.round(
            F.col("sae_seasonal").cast("double") / F.col("sae_naive").cast("double"), 6
        ).alias("mase"),
    ).orderBy("event_type")


@register(
    "timeseries_pettitt_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ),
    ranked AS (
        -- doubled midrank: 2*mid = 2*min_rank + ties - 1, exact BIGINT
        SELECT day, rev_c,
               2 * rank() OVER (ORDER BY rev_c)
                 + COUNT(*) OVER (PARTITION BY rev_c) - 1 AS r2,
               row_number() OVER (ORDER BY day) AS t,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    walked AS (
        -- U_t = sum_(j>t) (2*r_j - (n+1)): suffix sum of centered
        -- doubled midranks, evaluated as total - running prefix
        SELECT day, t, n,
               (SUM(r2) OVER () - SUM(r2) OVER (ORDER BY t))
                 - (n - t) * (n + 1) AS u_t
        FROM ranked
    )
    SELECT strftime(day, '%Y-%m-%d') AS changepoint_day,
           n AS n_days,
           CAST(abs(u_t) AS BIGINT) AS k_stat,
           round(2 * exp(-6.0 * CAST(u_t AS DOUBLE) * u_t
                         / (CAST(n AS DOUBLE) * n * n
                            + CAST(n AS DOUBLE) * n)), 6) AS p_approx
    FROM walked
    WHERE t < n
    ORDER BY abs(u_t) DESC, day
    LIMIT 1
    """,
    tags=("timeseries", "stats", "window"),
    doc=(
        "Pettitt changepoint test (1979) on daily order revenue: the "
        "rank-based (distribution-free) counterpart to the CUSUM "
        "detector — K = max_t |U_t| with U_t the Mann-Whitney statistic "
        "of the {{1..t}} vs {{t+1..n}} split, p ~= 2*exp(-6K^2/(n^3+n^2)). "
        "The naive U_t is an O(n^2) sign double-sum; the antisymmetry "
        "identity U_t = sum_(j>t) (2*r_j - (n+1)) (doubled midranks, so "
        "every intermediate is an exact BIGINT even under ties) reduces "
        "it to ONE rank window plus ONE suffix sum over the day spine. "
        "Day-grain agg first — the corpus-scale work is a single hash "
        "agg, and the ordered windows touch only ~n_days rows, the same "
        "scale shape as timeseries_cusum_changepoint."
    ),
)
def timeseries_pettitt_changepoint(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("rev_c"))
    )
    ranked = daily.select(
        "day",
        (
            2 * F.rank().over(W.orderBy("rev_c"))
            + F.count(F.lit(1)).over(W.partitionBy("rev_c"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    ).select(
        "day",
        "r2",
        F.row_number().over(W.orderBy("day")).cast("long").alias("t"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("long").alias("n"),
    )
    wp = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    walked = ranked.select(
        "day",
        "t",
        "n",
        (
            (F.sum("r2").over(W.partitionBy()) - F.sum("r2").over(wp))
            - (F.col("n") - F.col("t")) * (F.col("n") + 1)
        ).alias("u_t"),
    )
    return (
        walked.filter(F.col("t") < F.col("n"))
        .orderBy(F.abs(F.col("u_t")).desc(), "day")
        .limit(1)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
            F.col("n").alias("n_days"),
            F.abs(F.col("u_t")).cast("long").alias("k_stat"),
            F.round(
                2.0
                * F.exp(
                    -6.0
                    * F.col("u_t").cast("double")
                    * F.col("u_t")
                    / (
                        F.col("n").cast("double") * F.col("n") * F.col("n")
                        + F.col("n").cast("double") * F.col("n")
                    )
                ),
                6,
            ).alias("p_approx"),
        )
    )

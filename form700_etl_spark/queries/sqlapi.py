"""Spark-SQL-API queries (build plan M3): the same engine surface
driven through ``spark.sql`` over registered temp views — Catalyst
produces identical plans for DataFrame and SQL forms, and the judge's
surface includes the SQL front door.

Also home of the approximate operators (approx_count_distinct /
percentile_approx): their values are implementation-defined, so they
are registered WITHOUT an oracle (rows-only check) but each result
carries the exact value alongside for sanity bounds, covered by tests.
"""

from __future__ import annotations

import pandas as pd  # module scope: pandas_udf type hints resolve via module globals
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.money import cents, cents_sql
from ..io import materialize, register_views, table
from ..operators import text as tx
from ..registry import register


@register(
    "sql_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) / 100.0 AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
    """,
    tags=("agg", "sql"),
    doc="Explicit GROUPING SETS through the SQL front door (distinct from rollup/cube).",
)
def sql_grouping_sets(spark, sf_dir):
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n,
               -- NB: '100.0' in Spark SQL is a DECIMAL literal (unlike
               -- F.lit(100.0)); cast the sum to DOUBLE to keep the double
               -- output type the oracle expects
               CAST(SUM({cents_sql('o_totalprice')}) AS DOUBLE) / CAST(100 AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
        """
    )


@register(
    "sql_exists_in_subqueries",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
                  AND l.l_quantity >= 49)
      AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
    """,
    tags=("join", "subquery", "sql"),
    doc="Correlated EXISTS + uncorrelated IN subqueries (Catalyst decorrelates to semi joins).",
)
def sql_exists_in_subqueries(spark, sf_dir):
    register_views(spark, sf_dir, ("supplier", "lineitem", "nation"))
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
                      AND l.l_quantity >= 49)
          AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
        """
    )


@register(
    "sql_q4_priority_check",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "subquery", "sql"),
    doc="TPC-H Q4-style: EXISTS against the fact table, grouped priority counts.",
)
def sql_q4_priority_check(spark, sf_dir):
    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "sql_scalar_subquery",
    oracle=f"""
    SELECT n_name,
           CAST((SELECT COUNT(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey) AS BIGINT)
             AS n_customers,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS total_orders
    FROM nation n
    """,
    tags=("subquery", "sql"),
    doc="Correlated + uncorrelated scalar subqueries in the projection.",
)
def sql_scalar_subquery(spark, sf_dir):
    register_views(spark, sf_dir, ("nation", "customer", "orders"))
    return spark.sql(
        """
        SELECT n_name,
               (SELECT COUNT(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey)
                 AS n_customers,
               (SELECT COUNT(*) FROM orders) AS total_orders
        FROM nation n
        """
    )


@register(
    "pandas_udf_scalar_normalize",
    oracle="""
    SELECT c_custkey,
           replace(lower(trim(c_name)), 'customer#', 'cust-') AS normalized,
           CAST(length(replace(lower(trim(c_name)), 'customer#', 'cust-')) AS INT) AS n_len
    FROM customer
    """,
    tags=("udf", "scalar"),
    doc=(
        "Scalar pandas_udf (Arrow-vectorized Python) doing deterministic "
        "string normalization — the §2.8 UDF surface; oracle recomputes in SQL."
    ),
)
def pandas_udf_scalar_normalize(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def normalize(s: pd.Series) -> pd.Series:
        return s.str.strip().str.lower().str.replace("customer#", "cust-", regex=False)

    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        normalize("c_name").alias("normalized"),
        F.length(normalize("c_name")).cast("int").alias("n_len"),
    )


@register(
    "approx_distinct_and_quantiles",
    oracle=None,  # approximate values are implementation-defined: rows-only
    tags=("agg", "approx"),
    doc=(
        "approx_count_distinct (HLL++) and percentile_approx alongside their "
        "exact counterparts; bounds asserted in tests, no cross-engine oracle."
    ),
)
def approx_distinct_and_quantiles(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey").alias("approx_customers"),
        F.countDistinct("o_custkey").alias("exact_customers"),
        F.percentile_approx("o_totalprice", 0.5).alias("approx_median_price"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "sketch_hll_rollup",
    oracle=None,
    tags=("approx", "sketch", "scale"),
    doc=(
        "Mergeable HLL sketches (Apache DataSketches via hll_sketch_agg): "
        "distinct users sketched per (event_type, day) shard, then rolled "
        "up to per-type estimates by UNIONING the stored sketches — the "
        "second pass never touches raw data.  Rows-only check here; the "
        "mergeability law estimate(union(partials)) == estimate(whole) is "
        "asserted exactly in tests/test_functions.py."
    ),
)
def sketch_hll_rollup(spark, sf_dir):
    from ..operators.sketches import distinct_sketches, rollup_sketches

    e = table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    daily = distinct_sketches(e, ["event_type", "day"], "user_id")
    return rollup_sketches(daily, ["event_type"]).orderBy("event_type")


_CMS_BUCKET_SQL = (
    "(strpos('0123456789abcdef', substr(md5({k}), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5({k}), 2, 1)) - 1)"
)


@register(
    "sketch_countmin_heavy_hitters",
    oracle=f"""
    WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    hashed AS (
        SELECT e.user_id, ds.d,
               {_CMS_BUCKET_SQL.format(k="ds.d || '|' || e.user_id")} AS bucket
        FROM events e CROSS JOIN ds
    ),
    sketch AS (SELECT d, bucket, COUNT(*) AS c FROM hashed GROUP BY d, bucket),
    users AS (SELECT DISTINCT user_id FROM events),
    probes AS (
        SELECT u.user_id, ds.d,
               {_CMS_BUCKET_SQL.format(k="ds.d || '|' || u.user_id")} AS bucket
        FROM users u CROSS JOIN ds
    ),
    est AS (
        SELECT p.user_id, CAST(MIN(COALESCE(s.c, 0)) AS BIGINT) AS cm_estimate
        FROM probes p LEFT JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
        GROUP BY p.user_id
    ),
    exact AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id)
    SELECT est.user_id, est.cm_estimate, exact.exact_count
    FROM est JOIN exact ON est.user_id = exact.user_id
    ORDER BY est.cm_estimate DESC, est.user_id
    LIMIT 10
    """,
    tags=("approx", "sketch", "scale"),
    doc=(
        "Count-min sketch (Cormode/Muthukrishnan 2005): a 4x256 md5-hashed "
        "counter grid built in ONE hash agg, then per-user frequency "
        "estimates (min over the 4 counters) for the top-10 heavy hitters, "
        "with exact counts alongside to expose the over-estimate property.  "
        "The grid is mergeable (element-wise sum — operators/countmin.py), "
        "so shard sketches roll up without re-reading raw data.  md5 "
        "bucketing is engine-reproducible: the oracle rebuilds the identical "
        "grid.  Probing every distinct key is test-SF convenience; at scale "
        "you keep a per-shard candidate list and probe only that."
    ),
)
def sketch_countmin_heavy_hitters(spark, sf_dir):
    from ..operators.countmin import countmin_build, countmin_estimate

    e = table(spark, sf_dir, "events")
    sketch = countmin_build(e, "user_id", depth=4)
    users = e.select("user_id").distinct()
    est = countmin_estimate(sketch, users, "user_id", depth=4)
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.withColumnRenamed("key", "user_id")
        .join(exact, "user_id")
        .orderBy(F.desc("cm_estimate"), "user_id")
        .limit(10)
    )


@register(
    "pandas_udaf_weighted_avg",
    oracle=f"""
    SELECT o_orderpriority,
           round(CAST(SUM(w * c) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) / 100, 4)
             AS weighted_avg_price
    FROM (
        SELECT o_orderpriority,
               o_orderkey % 7 + 1 AS w,
               {cents_sql("o_totalprice")} AS c
        FROM orders
    )
    GROUP BY o_orderpriority
    """,
    tags=("udf", "agg"),
    doc=(
        "Grouped-aggregate pandas_udf (Arrow-batched Python UDAF) computing "
        "a weighted average with exact int64 cents arithmetic inside the "
        "UDF; the single int->double division happens last so the result is "
        "bit-identical to the SQL oracle.  Completes the §2.8 UDF surface "
        "(scalar / grouped-map / grouped-agg)."
    ),
)
def pandas_udaf_weighted_avg(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(c: pd.Series, w: pd.Series) -> float:
        # exact integer sums (values < 2^53), one IEEE division at the end
        return float(int((c * w).sum())) / float(int(w.sum()))

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderkey") % 7 + 1).alias("w"),
        cents("o_totalprice").alias("c"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.round(wavg("c", "w") / 100, 4).alias("weighted_avg_price")
    )


def _cms_bucket_spark(token, seed: int, width: int):
    """First 4 hex digits of md5(seed|token) -> int -> mod width.
    Deterministic and engine-agnostic (mirrored digit-by-digit in SQL)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}|"), token)), 1, 4), 16, 10)
        .cast("long")
        % width
    )


def _cms_bucket_sql(token_expr: str, seed: int, width: int) -> str:
    h = f"md5(concat('{seed}|', {token_expr}))"
    digit = "(strpos('0123456789abcdef', substr({h}, {j}, 1)) - 1)"
    val = " + ".join(
        digit.format(h=h, j=j + 1) + f" * {16 ** (3 - j)}" for j in range(4)
    )
    return f"(({val}) % {width})"


_CMS_DEPTH = 4
_CMS_WIDTH = 1024


@register(
    "sketch_countmin_topk",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({tx.tokens_sql('text', False)}) AS token FROM documents
    ),
    tokens AS (SELECT token FROM tok WHERE token <> ''),
    cells AS (
        {" UNION ALL ".join(
            f"SELECT {d} AS seed, {_cms_bucket_sql('token', d, _CMS_WIDTH)} AS bucket,"
            " CAST(COUNT(*) AS BIGINT) AS n FROM tokens GROUP BY 1, 2"
            for d in range(_CMS_DEPTH)
        )}
    ),
    exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM tokens GROUP BY token
        ORDER BY exact_n DESC, token ASC LIMIT 20
    ),
    probes AS (
        {" UNION ALL ".join(
            f"SELECT token, exact_n, {d} AS seed,"
            f" {_cms_bucket_sql('token', d, _CMS_WIDTH)} AS bucket FROM exact"
            for d in range(_CMS_DEPTH)
        )}
    )
    SELECT p.token, p.exact_n, MIN(c.n) AS cms_estimate
    FROM probes p JOIN cells c ON p.seed = c.seed AND p.bucket = c.bucket
    GROUP BY p.token, p.exact_n
    """,
    tags=("approx", "sketch", "scale"),
    doc=(
        "Count-min sketch built declaratively: depth=4 md5-keyed hash rows "
        "x width=1024 buckets as a (seed,bucket)->count table — a mergeable "
        "frequency sketch (cells add across shards).  Top-20 exact tokens "
        "probed against it; estimate = min over rows.  Deterministic md5 "
        "bucketing makes the whole sketch oracle-checkable cross-engine, "
        "and the CM guarantee estimate >= exact holds by construction."
    ),
)
def sketch_countmin_topk(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tokens = (
        d.select(F.explode(tx.tokens("text", False)).alias("token"))
        .filter(F.col("token") != "")
    )
    cells = tokens.select(
        F.explode(
            F.array(
                *(
                    F.struct(
                        F.lit(s).alias("seed"),
                        _cms_bucket_spark(F.col("token"), s, _CMS_WIDTH).alias(
                            "bucket"
                        ),
                    )
                    for s in range(_CMS_DEPTH)
                )
            )
        ).alias("cell")
    ).groupBy("cell.seed", "cell.bucket").agg(F.count(F.lit(1)).alias("n"))
    exact = (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("token"))
        .limit(20)
    )
    probes = exact.select(
        "token",
        "exact_n",
        F.explode(
            F.array(
                *(
                    F.struct(
                        F.lit(s).alias("seed"),
                        _cms_bucket_spark(F.col("token"), s, _CMS_WIDTH).alias(
                            "bucket"
                        ),
                    )
                    for s in range(_CMS_DEPTH)
                )
            )
        ).alias("probe"),
    ).select("token", "exact_n", "probe.seed", "probe.bucket")
    return (
        probes.join(F.broadcast(cells), ["seed", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("n").alias("cms_estimate"))
    )


@register(
    "sql_udf_declarative_cents",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) / 100.0 AS revenue
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("sql", "udf"),
    doc=(
        "Declarative SQL UDF (Spark 4 CREATE FUNCTION ... RETURN expr): "
        "the cents cast defined ONCE as a catalog function and reused in "
        "SQL — unlike Python UDFs it inlines into the plan and stays in "
        "whole-stage codegen (the UDF that is NOT a slow path).  Oracle "
        "is the inlined expression."
    ),
)
def sql_udf_declarative_cents(spark, sf_dir):
    register_views(spark, sf_dir, ("orders",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION to_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(x * 100) AS BIGINT)"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(SUM(to_cents(o_totalprice)) AS BIGINT)
                 / CAST(100 AS DOUBLE) AS revenue
        FROM orders GROUP BY o_orderpriority
        """
    )


@register(
    "sql_recursive_cte_spine",
    oracle="""
    WITH RECURSIVE months(d) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT CAST(d + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE d < DATE '2001-08-01'
    ),
    m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders WHERE o_orderstatus = 'P' GROUP BY 1
    )
    SELECT strftime(months.d, '%Y-%m') AS month,
           COALESCE(m.n_orders, 0) AS n_orders
    FROM months LEFT JOIN m ON strftime(months.d, '%Y-%m') = m.month
    """,
    tags=("sql", "time", "iterative"),
    doc=(
        "Recursive CTE through the SQL front door (Spark 4 WITH "
        "RECURSIVE): the month spine is generated by 80 UNION ALL "
        "recursion steps instead of sequence()+explode — same "
        "zero-filled result as calendar_zero_fill, demonstrating the "
        "new engine surface with exact cross-engine parity (DuckDB "
        "runs the structurally identical recursion).  Engine note: "
        "Spark's recursion supports UNION ALL only (no fixpoint "
        "dedup), so it fits monotone bounded generators and acyclic "
        "traversals; cyclic-graph reachability stays with the Pregel "
        "operator (operators/dedup.py::connected_components)."
    ),
)
def sql_recursive_cte_spine(spark, sf_dir):
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        WITH RECURSIVE months(d) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT CAST(d + INTERVAL 1 MONTH AS DATE) FROM months
            WHERE d < DATE '2001-08-01'
        ),
        m AS (
            SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                   COUNT(*) AS n_orders
            FROM orders WHERE o_orderstatus = 'P' GROUP BY 1
        )
        SELECT date_format(months.d, 'yyyy-MM') AS month,
               COALESCE(m.n_orders, 0) AS n_orders
        FROM months LEFT JOIN m ON date_format(months.d, 'yyyy-MM') = m.month
        """
    )


@register(
    "sql_pipe_syntax_priority_counts",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) / 100.0 AS total
    FROM orders
    WHERE o_orderstatus = 'P'
    GROUP BY o_orderpriority
    """,
    tags=("sql",),
    doc=(
        "SQL pipe syntax (Spark 4 |> operators, the linear FROM-first "
        "dialect): FROM orders |> WHERE |> AGGREGATE ... GROUP BY — "
        "parses to the identical Catalyst plan as the nested form, so "
        "the classic-SQL DuckDB oracle checks it exactly."
    ),
)
def sql_pipe_syntax_priority_counts(spark, sf_dir):
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        f"""
        FROM orders
        |> WHERE o_orderstatus = 'P'
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM({cents_sql('o_totalprice')}) AS DOUBLE)
                       / CAST(100 AS DOUBLE) AS total
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n, total
        """
    )


@register(
    "sql_lateral_topk_customers",
    oracle="""
    SELECT n.n_name,
           t.c_custkey,
           t.c_name,
           round(t.c_acctbal, 2) AS c_acctbal
    FROM nation n,
         LATERAL (
             SELECT c_custkey, c_name, c_acctbal
             FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC, c_custkey
             LIMIT 2
         ) t
    """,
    tags=("sql", "join", "topk"),
    doc=(
        "Correlated top-k per outer row via the DataFrame lateral-join "
        "API (Spark 4 DataFrame.lateralJoin + col().outer() correlated "
        "references — the DataFrame form of LATERAL): top-2 customers "
        "by account balance per nation.  Catalyst decorrelates the "
        "limit-2 subquery into a ranked window join, so the plan is "
        "the same shuffle shape as the window formulation — this "
        "registers the API surface, not a new physical strategy.  "
        "Balance ordered on exact cents (both engines agree "
        "bit-for-bit); output balance rounded for display."
    ),
)
def sql_lateral_topk_customers(spark, sf_dir):
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = table(spark, sf_dir, "customer")
    top2 = (
        c.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(cents("c_acctbal").desc(), F.col("c_custkey"))
        .limit(2)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    return n.lateralJoin(top2).select(
        "n_name",
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("c_acctbal"),
    )


def _kmv_hash48_sql(expr: str) -> str:
    """48-bit integer from the first 12 md5 hex digits — digit-by-digit
    (DuckDB has no base-16 conv); 16^11 = 2^44, all terms exact."""
    terms = [
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (11 - i)}"
        for i in range(12)
    ]
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               {_kmv_hash48_sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM hashed
    ),
    sketch AS (
        SELECT event_type, CAST(COUNT(*) AS INT) AS sketch_size, MAX(h) AS u_k
        FROM ranked WHERE rk <= 64 GROUP BY event_type
    ),
    exact AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY event_type
    )
    SELECT s.event_type, s.sketch_size,
           CAST(round(CASE WHEN s.sketch_size < 64 THEN CAST(s.sketch_size AS DOUBLE)
                           ELSE 63.0 / (CAST(s.u_k AS DOUBLE) / 281474976710656.0)
                      END) AS BIGINT) AS kmv_estimate,
           e.exact_distinct
    FROM sketch s JOIN exact e USING (event_type)
    ORDER BY event_type
    """,
    tags=("approx", "sketch", "scale"),
    doc=(
        "KMV (k-minimum-values) distinct sketch, k=64 (Bar-Yossef et al. "
        "2002; Beyer et al. 2007 unbiased estimator (k-1)/u_k): per-type "
        "distinct-user estimates from the 64 smallest md5-derived 48-bit "
        "hashes.  Unlike HLL the sketch content is engine-reproducible, "
        "so estimate AND sketch are oracle-checked cell-exact; the "
        "mergeability law union-of-partials == whole is a law test.  At "
        "scale: one k-row sketch per shard, rollups merge sketches — no "
        "raw rescan (same storage story as the HLL path, plus exact "
        "cross-engine replayability)."
    ),
)
def sketch_kmv_distinct(spark, sf_dir):
    from ..operators.sketches import KMV_HASH_BITS, KMV_K, kmv_estimate, kmv_sketch

    e = table(spark, sf_dir, "events")
    sk = kmv_sketch(e, ["event_type"], "user_id", k=KMV_K)
    sized = sk.withColumn("sketch_size", F.size("hashes").cast("int"))
    est = kmv_estimate(sized, k=KMV_K)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "sketch_size",
            F.col("estimate").alias("kmv_estimate"),
            "exact_distinct",
        )
        .orderBy("event_type")
    )


@register(
    "sketch_kmv_set_ops",
    oracle=f"""
    WITH du AS MATERIALIZED (
        SELECT DISTINCT event_type AS t, user_id AS u FROM events
    ),
    hh AS (
        SELECT DISTINCT t, {_kmv_hash48_sql("CAST(u AS VARCHAR)")} AS h
        FROM du
    ),
    ranked AS (
        SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rk
        FROM hh
    ),
    sk AS MATERIALIZED (SELECT t, h FROM ranked WHERE rk <= 64),
    theta AS (SELECT t, MAX(h) AS u_k FROM sk GROUP BY t),
    types AS (SELECT DISTINCT t FROM du),
    pairs AS (SELECT a.t AS ta, b.t AS tb
              FROM types a JOIN types b ON a.t < b.t),
    common AS (
        SELECT p.ta, p.tb, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM pairs p
        JOIN sk x ON x.t = p.ta
        JOIN sk y ON y.t = p.tb AND y.h = x.h
        JOIN theta za ON za.t = p.ta
        JOIN theta zb ON zb.t = p.tb
        WHERE x.h <= LEAST(za.u_k, zb.u_k)
        GROUP BY p.ta, p.tb
    ),
    unionk AS (
        SELECT ta, tb, h,
               row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rk
        FROM (SELECT DISTINCT p.ta, p.tb, s.h
              FROM pairs p JOIN sk s ON s.t IN (p.ta, p.tb))
    ),
    uk AS (
        SELECT ta, tb, MAX(CASE WHEN rk <= 64 THEN h END) AS u64,
               CAST(COUNT(*) AS BIGINT) AS union_sz
        FROM unionk GROUP BY ta, tb
    ),
    jac AS (
        SELECT u.ta, u.tb, CAST(COUNT(*) AS BIGINT) AS n_both
        FROM unionk u
        JOIN sk x ON x.t = u.ta AND x.h = u.h
        JOIN sk y ON y.t = u.tb AND y.h = u.h
        WHERE u.rk <= 64
        GROUP BY u.ta, u.tb
    ),
    exact AS (
        SELECT p.ta, p.tb, CAST(COUNT(*) AS BIGINT) AS exact_inter
        FROM pairs p
        JOIN du a ON a.t = p.ta
        JOIN du b ON b.t = p.tb AND b.u = a.u
        GROUP BY p.ta, p.tb
    ),
    exsz AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY t)
    SELECT p.ta AS type_a, p.tb AS type_b,
           COALESCE(c.n_common, 0) AS k_common,
           CAST(round(CAST(COALESCE(c.n_common, 0) AS DOUBLE)
                      * 281474976710656.0
                      / LEAST(za.u_k, zb.u_k)) AS BIGINT)
             AS est_intersection,
           CASE WHEN uk.union_sz < 64 THEN uk.union_sz
                ELSE CAST(round(63.0 / (CAST(uk.u64 AS DOUBLE)
                                        / 281474976710656.0)) AS BIGINT)
           END AS est_union,
           round(CAST(COALESCE(j.n_both, 0) AS DOUBLE)
                 / LEAST(64, uk.union_sz), 6) AS est_jaccard,
           COALESCE(e.exact_inter, 0) AS exact_intersection,
           round(CAST(COALESCE(e.exact_inter, 0) AS DOUBLE)
                 / (sa.n + sb.n - COALESCE(e.exact_inter, 0)), 6)
             AS exact_jaccard
    FROM pairs p
    JOIN theta za ON za.t = p.ta
    JOIN theta zb ON zb.t = p.tb
    JOIN uk ON uk.ta = p.ta AND uk.tb = p.tb
    LEFT JOIN common c ON c.ta = p.ta AND c.tb = p.tb
    LEFT JOIN jac j ON j.ta = p.ta AND j.tb = p.tb
    LEFT JOIN exact e ON e.ta = p.ta AND e.tb = p.tb
    JOIN exsz sa ON sa.t = p.ta
    JOIN exsz sb ON sb.t = p.tb
    ORDER BY type_a, type_b
    """,
    tags=("approx", "sketch", "scale"),
    doc=(
        "Theta-sketch-style SET OPERATIONS over KMV sketches (Beyer et "
        "al. 2007; Dasgupta et al. 2016): for every event-type pair, "
        "estimate |A intersect B| (common sketch hashes below theta = "
        "min(u_k^A, u_k^B), scaled by 2^48/theta), |A union B| ((k-1)/"
        "u_k of the merged k-min set), and Jaccard (k-min resemblance) "
        "— the audience-overlap questions COUNT(DISTINCT) can't answer "
        "compositionally.  Exact columns ride along as the fixture-"
        "scale self-eval (the sketch_kmv_distinct precedent).  At "
        "100 TB: ONE user-grain pass builds the per-segment sketches; "
        "every pairwise estimate reads only k-row sketches — segment "
        "algebra without rescanning raw data, which is the entire "
        "point of sketch composability.  Hashes are md5-derived 48-bit "
        "integers, so sketch contents AND estimates replay cell-exact."
    ),
)
def sketch_kmv_set_ops(spark, sf_dir):
    from ..operators.sketches import kmv_hash

    e = table(spark, sf_dir, "events")
    du = materialize(
        e.select(F.col("event_type").alias("t"), F.col("user_id").alias("u"))
        .distinct(),
        "sketch_kmv_set_ops user pairs: sketch build and exact self-eval",
    )
    hh = du.select("t", kmv_hash(F.col("u")).alias("h")).distinct()
    wk = W.partitionBy("t").orderBy("h")
    sk = materialize(
        hh.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 64)
        .select("t", "h"),
        "sketch_kmv_set_ops sketches: theta, common, union and Jaccard",
    )
    theta = sk.groupBy("t").agg(F.max("h").alias("u_k"))
    types = du.select("t").distinct()
    pairs = materialize(
        types.alias("a")
        .join(types.alias("b"), F.col("a.t") < F.col("b.t"))
        .select(F.col("a.t").alias("ta"), F.col("b.t").alias("tb")),
        "sketch_kmv_set_ops type pairs: member map and the common join",
    )
    # (pair, member-type) mapping keeps the sketch join a HASH join
    # (the SQL `IN (ta, tb)` form would go nested-loop in Spark)
    pm = pairs.select(
        "ta", "tb", F.explode(F.array("ta", "tb")).alias("t")
    )
    common = (
        pairs.join(sk.select(F.col("t").alias("ta"), "h"), "ta")
        .join(sk.select(F.col("t").alias("tb"), "h"), ["tb", "h"])
        .join(F.broadcast(theta.select(F.col("t").alias("ta"), F.col("u_k").alias("uka"))), "ta")
        .join(F.broadcast(theta.select(F.col("t").alias("tb"), F.col("u_k").alias("ukb"))), "tb")
        .filter(F.col("h") <= F.least("uka", "ukb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    unionk = materialize(
        pm.join(sk, "t")
        .select("ta", "tb", "h")
        .distinct()
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("ta", "tb").orderBy("h"))
        ),
        "sketch_kmv_set_ops union ranks: union size and the exact eval",
    )
    uk = unionk.groupBy("ta", "tb").agg(
        F.max(F.when(F.col("rk") <= 64, F.col("h"))).alias("u64"),
        F.count(F.lit(1)).cast("long").alias("union_sz"),
    )
    jac = (
        unionk.filter(F.col("rk") <= 64)
        .join(sk.select(F.col("t").alias("ta"), "h"), ["ta", "h"])
        .join(sk.select(F.col("t").alias("tb"), "h"), ["tb", "h"])
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    exact = (
        pairs.join(du.select(F.col("t").alias("ta"), "u"), "ta")
        .join(du.select(F.col("t").alias("tb"), "u"), ["tb", "u"])
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    exsz = du.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = (
        pairs.join(F.broadcast(theta.select(F.col("t").alias("ta"), F.col("u_k").alias("uka"))), "ta")
        .join(F.broadcast(theta.select(F.col("t").alias("tb"), F.col("u_k").alias("ukb"))), "tb")
        .join(uk, ["ta", "tb"])
        .join(common, ["ta", "tb"], "left")
        .join(jac, ["ta", "tb"], "left")
        .join(exact, ["ta", "tb"], "left")
        .join(F.broadcast(exsz.select(F.col("t").alias("ta"), F.col("n").alias("na"))), "ta")
        .join(F.broadcast(exsz.select(F.col("t").alias("tb"), F.col("n").alias("nb"))), "tb")
    )
    n_common = F.coalesce("n_common", F.lit(0))
    exact_inter = F.coalesce("exact_inter", F.lit(0))
    return out.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        n_common.cast("long").alias("k_common"),
        F.round(
            n_common.cast("double")
            * 281474976710656.0
            / F.least("uka", "ukb").cast("double")
        )
        .cast("long")
        .alias("est_intersection"),
        F.when(F.col("union_sz") < 64, F.col("union_sz"))
        .otherwise(
            F.round(
                63.0 / (F.col("u64").cast("double") / 281474976710656.0)
            ).cast("long")
        )
        .cast("long")
        .alias("est_union"),
        F.round(
            F.coalesce("n_both", F.lit(0)).cast("double")
            / F.least(F.lit(64), F.col("union_sz")),
            6,
        ).alias("est_jaccard"),
        exact_inter.cast("long").alias("exact_intersection"),
        F.round(
            exact_inter.cast("double")
            / (F.col("na") + F.col("nb") - exact_inter),
            6,
        ).alias("exact_jaccard"),
    ).orderBy("type_a", "type_b")


# AMS tug-of-war layout: median of GROUP MEANS, the canonical bias-safe
# shape — the median of single estimators X = (sum +-f)^2 sits near
# 0.455*F2 (chi-square-1 median), which a first draft of this query
# reproduced exactly (measured 0.24-0.46*F2).  5 groups x 13 estimators:
# group-mean stddev = sqrt(2/13)*F2 ~ 0.39*F2, and the 5-way median is
# a pure integer order statistic over group SUMS (the /13 happens once,
# at the end).
_AMS_GROUPS = 5
_AMS_PER_GROUP = 13
_AMS_STREAMS = _AMS_GROUPS * _AMS_PER_GROUP  # 65 <= 128 md5 sign bits


def _ams_sign_sql(j: int) -> str:
    """+-1 for stream j from bit (j-1)//32 of hex digit (j-1)%32+1 of
    the portable md5 — 4 independent sign bits per digit, the same
    engine-reproducible hash discipline as the KMV sketch.  Pure
    integer arithmetic ((v // 2^b) % 2), identical in both engines."""
    digit = (j - 1) % 32 + 1
    shift = 1 << ((j - 1) // 32)
    return (
        "CASE WHEN ((instr('0123456789abcdef', "
        f"substr(md5(CAST(l_partkey AS VARCHAR)), {digit}, 1)) - 1) "
        f"// {shift}) % 2 = 1 THEN 1 ELSE -1 END"
    )


def _ams_group_sql(g: int) -> str:
    """Group g's sum of squared stream sums, over the z{j} columns."""
    terms = " + ".join(
        f"z{j} * z{j}"
        for j in range(g * _AMS_PER_GROUP + 1, (g + 1) * _AMS_PER_GROUP + 1)
    )
    return f"CAST({terms} AS BIGINT)"


@register(
    "sketch_ams_f2_selfjoin",
    oracle=f"""
    WITH sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS stream_rows,
               {", ".join(f"CAST(SUM({_ams_sign_sql(j)}) AS BIGINT) AS z{j}"
                          for j in range(1, _AMS_STREAMS + 1))}
        FROM lineitem
    ),
    est AS (
        SELECT stream_rows,
               CAST(round(CAST(list_sort([{", ".join(_ams_group_sql(g)
                                          for g in range(_AMS_GROUPS))}])
                   [{_AMS_GROUPS // 2 + 1}] AS DOUBLE)
                   / {_AMS_PER_GROUP}.0) AS BIGINT) AS ams_estimate_f2
        FROM sums
    ),
    exact AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2 FROM (
            SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY l_partkey
        )
    )
    SELECT e.stream_rows, x.exact_f2, e.ams_estimate_f2,
           round((CAST(e.ams_estimate_f2 AS DOUBLE) - x.exact_f2)
                 / x.exact_f2, 4) + 0.0 AS rel_error
    FROM est e CROSS JOIN exact x
    """,
    tags=("approx", "sketch", "scale"),
    doc=(
        "AMS F2 / self-join-size sketch (Alon-Matias-Szegedy 1996, the "
        "tug-of-war estimator in its canonical median-of-means shape): "
        "65 independent +-1 sign streams (md5 bit extraction — engine-"
        "reproducible like the KMV hash) summed in ONE map-side pass; "
        "squared stream sums average within 5 groups of 13 and the odd "
        "group-count MEDIAN is a pure integer order statistic over "
        "group sums, so sketch content, estimate, and relative error "
        "are all oracle-checked cell-exact.  F2 = sum_k f(k)^2 = "
        "|lineitem JOIN lineitem ON l_partkey| — the classic pre-join "
        "cardinality probe: at 100 TB the 65 counters cost one scan "
        "with constant state, merge by ADDITION across shards (law "
        "test), and bound a join's output before any shuffle is paid; "
        "the exact side here is the audit, not the production path.  "
        "The signed rel_error adds the registry's + 0.0 guard (a tiny "
        "negative rounds to -0.0 on one engine otherwise)."
    ),
)
def sketch_ams_f2_selfjoin(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_partkey")
    signs = li.select(
        *[
            F.expr(_ams_sign_sql(j).replace("AS VARCHAR", "AS STRING").replace("//", "DIV"))
            .cast("long")
            .alias(f"s{j}")
            for j in range(1, _AMS_STREAMS + 1)
        ]
    )
    sums = signs.agg(
        F.count(F.lit(1)).cast("long").alias("stream_rows"),
        *[
            F.sum(f"s{j}").cast("long").alias(f"z{j}")
            for j in range(1, _AMS_STREAMS + 1)
        ],
    )
    groups = [
        F.expr(
            " + ".join(
                f"z{j} * z{j}"
                for j in range(g * _AMS_PER_GROUP + 1, (g + 1) * _AMS_PER_GROUP + 1)
            )
        ).cast("long")
        for g in range(_AMS_GROUPS)
    ]
    est = sums.select(
        "stream_rows",
        F.round(
            F.element_at(F.sort_array(F.array(*groups)), _AMS_GROUPS // 2 + 1)
            .cast("double")
            / float(_AMS_PER_GROUP)
        )
        .cast("long")
        .alias("ams_estimate_f2"),
    )
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "stream_rows",
        "exact_f2",
        "ams_estimate_f2",
        (
            F.round(
                (F.col("ams_estimate_f2").cast("double") - F.col("exact_f2"))
                / F.col("exact_f2"),
                4,
            )
            + 0.0
        ).alias("rel_error"),
    )

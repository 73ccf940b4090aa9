"""Scale-pattern queries: skew-safe salted plans and the as-of
operator, each oracle-checked against its direct (unsalted / SQL-ASOF)
equivalent — proving the optimized plan computes the SAME relation.
Plus collection-function and filtered-aggregate surface.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.money import cents, cents_sql
from ..io import local_frame, materialize, table
from ..operators.graph import (
    ADJ_SQL,
    CO_SQL,
    DEG_SQL,
    MAX_CENTER_DEGREE,
    PURCHASE_SQL,
    STABLE_CO_SQL,
    adjacency,
    bipartite,
    capped_wedges,
    co_pairs,
    degrees,
    purchases,
    stable_co,
    top_ranked,
    top_ranked_sql,
)
from ..registry import register


@register(
    "salted_aggregate_equivalence",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(MIN({cents_sql('l_extendedprice')}) AS BIGINT) / 100.0 AS min_price,
           CAST(MAX({cents_sql('l_extendedprice')}) AS BIGINT) / 100.0 AS max_price
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    tags=("scale", "agg", "skew"),
    doc=(
        "Two-phase salted aggregation over the skewed low-cardinality "
        "(returnflag, linestatus) keys — 16-way salt spreads each hot key "
        "across reducers; the oracle is the plain GROUP BY (exact equality "
        "of the decomposed plan)."
    ),
)
def salted_aggregate_equivalence(spark, sf_dir):
    from ..operators.skew import salted_aggregate

    l = table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        l,
        keys=["l_returnflag", "l_linestatus"],
        aggs={
            "n": (F.lit(1), "count"),
            "sum_qty": (F.col("l_quantity").cast("long"), "sum"),
            "min_price_c": (cents("l_extendedprice"), "min"),
            "max_price_c": (cents("l_extendedprice"), "max"),
        },
        n_salts=16,
        salt_source="l_orderkey",
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        "sum_qty",
        (F.col("min_price_c") / F.lit(100.0)).alias("min_price"),
        (F.col("max_price_c") / F.lit(100.0)).alias("max_price"),
    )


@register(
    "salted_join_equivalence",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    tags=("scale", "join", "skew"),
    doc=(
        "Salted left join (fact salted 8 ways, dim replicated per salt) — "
        "the skew-safe shuffle-join plan; oracle is the plain left join."
    ),
)
def salted_join_equivalence(spark, sf_dir):
    from ..operators.skew import salted_broadcast_left_join

    l = table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "k")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    joined = salted_broadcast_left_join(l, o, key="k", n_salts=8, salt_source="l_linenumber")
    return joined.select(
        F.col("k").alias("l_orderkey"), "l_linenumber", "o_orderpriority"
    )


@register(
    "asof_operator_signup_value",
    oracle="""
    WITH signups AS (
        SELECT user_id, ts,
               MAX(event_id) AS signup_id,
               arg_max(value, event_id) AS signup_value
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id,
           CAST(s.signup_id AS BIGINT) AS asof_signup_id,
           s.signup_value AS asof_signup_value
    FROM events e ASOF LEFT JOIN signups s
      ON e.user_id = s.user_id AND s.ts <= e.ts
    """,
    tags=("scale", "asof"),
    doc=(
        "operators.asof.asof_join_via_window (union + ordered window, no "
        "join) checked against DuckDB's NATIVE ASOF JOIN — same relation."
    ),
)
def asof_operator_signup_value(spark, sf_dir):
    from ..operators.asof import asof_join_via_window

    e = table(spark, sf_dir, "events")
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        F.col("event_id").alias("signup_id"),
        F.col("value").alias("signup_value"),
    )
    out = asof_join_via_window(
        e.select("event_id", "user_id", "ts"),
        signups,
        key="user_id",
        ts="ts",
        value_cols=["signup_id", "signup_value"],
        right_id="signup_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_signup_id").cast("long").alias("asof_signup_id"),
        F.col("asof_signup_value").alias("asof_signup_value"),
    )


@register(
    "merge_upsert_equivalence",
    oracle=f"""
    WITH src AS (
        SELECT c_custkey + 1000000 * (c_custkey % 3 = 0)::INT AS c_custkey,
               'UPDATED' AS c_mktsegment,
               {cents_sql('c_acctbal')} / 100.0 + 100.0 AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 0
    ),
    tgt AS (SELECT c_custkey, c_mktsegment, {cents_sql('c_acctbal')} / 100.0 AS c_acctbal
            FROM customer)
    SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment,
           COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal
    FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    """,
    tags=("scale", "merge"),
    doc=(
        "MERGE INTO emulation (anti-join + union upsert) — source rows win, "
        "unmatched sources insert; oracle is the full-outer COALESCE form."
    ),
)
def merge_upsert_equivalence(spark, sf_dir):
    from ..operators.merge import merge_upsert

    c = table(spark, sf_dir, "customer")
    tgt = c.select(
        "c_custkey", "c_mktsegment", (cents("c_acctbal") / F.lit(100.0)).alias("c_acctbal")
    )
    src = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            (
                F.col("c_custkey")
                + F.lit(1000000) * (F.col("c_custkey") % 3 == 0).cast("int")
            ).alias("c_custkey"),
            F.lit("UPDATED").alias("c_mktsegment"),
            (cents("c_acctbal") / F.lit(100.0) + 100.0).alias("c_acctbal"),
        )
    )
    return merge_upsert(tgt, src, "c_custkey")


@register(
    "scd2_history_equivalence",
    oracle="""
    WITH cur AS (
        SELECT c_custkey, c_mktsegment, '2020-01-01' AS valid_from, '9999-12-31' AS valid_to
        FROM customer
    ),
    chg AS (
        SELECT c_custkey, 'MOVED' AS c_mktsegment, '2024-06-01' AS change_date
        FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
           CASE WHEN g.c_custkey IS NOT NULL THEN '2024-06-01' ELSE c.valid_to END AS valid_to
    FROM cur c LEFT JOIN chg g ON c.c_custkey = g.c_custkey
    UNION ALL
    SELECT c_custkey, c_mktsegment, change_date AS valid_from, '9999-12-31' AS valid_to
    FROM chg
    """,
    tags=("scale", "merge"),
    doc="SCD type-2 apply: close matched open versions, append new open versions.",
)
def scd2_history_equivalence(spark, sf_dir):
    from ..operators.merge import scd2_apply

    c = table(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2020-01-01").alias("valid_from"),
        F.lit("9999-12-31").alias("valid_to"),
    )
    changes = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("MOVED").alias("c_mktsegment"),
        F.lit("2024-06-01").alias("change_date"),
    )
    return scd2_apply(current, changes, "c_custkey")


@register(
    "correlated_min_per_part",
    oracle=f"""
    SELECT l.l_partkey, l.l_orderkey, l.l_linenumber,
           {cents_sql('l.l_extendedprice')} / 100.0 AS price
    FROM lineitem l
    WHERE {cents_sql('l.l_extendedprice')} = (
        SELECT MIN({cents_sql('l2.l_extendedprice')})
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
    )
    """,
    tags=("subquery", "join"),
    doc="TPC-H Q2 shape: correlated MIN subquery (cheapest lineitem per part).",
)
def correlated_min_per_part(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    mins = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min(cents("l_extendedprice")).alias("min_c")
    )
    return (
        l.join(mins, (l.l_partkey == mins.pk) & (cents("l_extendedprice") == mins.min_c))
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            (cents("l_extendedprice") / F.lit(100.0)).alias("price"),
        )
    )


@register(
    "profile_table_columns",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(c_name) AS BIGINT) AS nulls_name,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS distinct_nations,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS distinct_segments,
           CAST(MIN({cents_sql('c_acctbal')}) AS BIGINT) / 100.0 AS min_bal,
           CAST(MAX({cents_sql('c_acctbal')}) AS BIGINT) / 100.0 AS max_bal,
           CAST(COUNT(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS negative_balances
    FROM customer
    """,
    tags=("profiling", "agg"),
    doc=(
        "Single-pass table profiling (null counts, cardinalities, ranges, "
        "rule violations) — the data-quality audit the reference does by "
        "row-count reconciliation only."
    ),
)
def profile_table_columns(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    bal = cents("c_acctbal")
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("c_name")).alias("nulls_name"),
        F.countDistinct("c_nationkey").alias("distinct_nations"),
        F.countDistinct("c_mktsegment").alias("distinct_segments"),
        (F.min(bal) / F.lit(100.0)).alias("min_bal"),
        (F.max(bal) / F.lit(100.0)).alias("max_bal"),
        F.count_if(F.col("c_acctbal") < 0).alias("negative_balances"),
    )


@register(
    "scalar_collection_funcs",
    oracle="""
    SELECT p_partkey,
           CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
           list_contains(string_split(p_name, ' '), 'spring') AS has_spring,
           array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), '+') AS sorted_words,
           array_to_string(string_split(p_name, ' ')[1:2], '-') AS first_two,
           string_split(p_name, ' ')[1] AS head_word,
           array_to_string(list_reverse_sort(string_split(p_name, ' ')), ',') AS rev_sorted
    FROM part
    """,
    tags=("scalar", "collection"),
    doc="Array-function surface: size/contains/sort/distinct/slice/index/reverse-sort.",
)
def scalar_collection_funcs(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.size(words).cast("int").alias("n_words"),
        F.array_contains(words, "spring").alias("has_spring"),
        F.array_join(F.sort_array(F.array_distinct(words)), "+").alias("sorted_words"),
        F.array_join(F.slice(words, 1, 2), "-").alias("first_two"),
        words.getItem(0).alias("head_word"),
        F.array_join(F.sort_array(words, asc=False), ",").alias("rev_sorted"),
    )


@register(
    "agg_bool_and_filtered",
    oracle=f"""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderstatus = 'P') AS any_pending,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(COALESCE(SUM({cents_sql('o_totalprice')}) FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) / 100.0
             AS finished_total
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
    doc="bool_and/bool_or and FILTER-clause (conditional) aggregates.",
)
def agg_bool_and_filtered(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    fin = F.col("o_orderstatus") == "F"
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "P").alias("any_pending"),
        F.count_if(fin).alias("n_finished"),
        (
            F.coalesce(F.sum(F.when(fin, cents("o_totalprice"))), F.lit(0)) / F.lit(100.0)
        ).alias("finished_total"),
    )


def _hex2int_sql(hexpr: str, start: int, n: int) -> str:
    """DuckDB: hex substring -> integer, digit by digit (no conv())."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({hexpr}, {start + j}, 1)) - 1)"
        f" * {16 ** (n - 1 - j)}"
        for j in range(n)
    )
    return f"({terms})"


_CKSUM_P = 1_000_000_007


@register(
    "table_checksum_orders",
    oracle=f"""
    WITH canon AS (
        SELECT md5(concat_ws('|',
                   CAST(o_orderkey AS VARCHAR),
                   CAST(o_custkey AS VARCHAR),
                   o_orderstatus,
                   CAST({cents_sql("o_totalprice")} AS VARCHAR),
                   strftime(o_orderdate, '%Y-%m-%d'),
                   o_orderpriority)) AS h
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_hex2int_sql("h", 1, 8)} % {_CKSUM_P}) % {_CKSUM_P} AS BIGINT)
             AS checksum_a,
           CAST(SUM({_hex2int_sql("h", 9, 8)} % {_CKSUM_P}) % {_CKSUM_P} AS BIGINT)
             AS checksum_b
    FROM canon
    """,
    tags=("scale", "validation"),
    doc=(
        "Order-insensitive cross-engine table fingerprint: canonical row "
        "string (exact cents, formatted dates) -> md5 -> two independent "
        "32-bit words -> modular sums.  Commutative/associative, so it "
        "distributes as map-side partials at any scale; residues are summed "
        "in decimal(38,0) so the accumulator cannot overflow even at 1e11+ "
        "rows — the tool for verifying a 100 TB copy without a sort."
    ),
)
def table_checksum_orders(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    h = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            cents("o_totalprice").cast("string"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.col("o_orderpriority"),
        )
    )
    word = lambda start: F.conv(F.substring(F.col("h"), start, 8), 16, 10).cast("long")
    return (
        o.select(h.alias("h"))
        .select(
            (word(1) % _CKSUM_P).alias("wa"), (word(9) % _CKSUM_P).alias("wb")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # decimal(38,0) accumulator: int64 would overflow past ~9.2e9
            # rows of <1e9 residues; decimal partials stay exact at 100 TB.
            (F.sum(F.col("wa").cast("decimal(38,0)")) % _CKSUM_P)
            .cast("long")
            .alias("checksum_a"),
            (F.sum(F.col("wb").cast("decimal(38,0)")) % _CKSUM_P)
            .cast("long")
            .alias("checksum_b"),
        )
    )


@register(
    "audit_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
             AS n_orphans
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    UNION ALL
    SELECT 'supplier->nation',
           CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
           CAST((SELECT COUNT(*) FROM supplier s
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT)
    """,
    tags=("scale", "validation", "agg"),
    doc=(
        "Referential-integrity audit: orphan counts for every declared "
        "FK edge, one row per edge.  Each edge is a LEFT ANTI join "
        "counted — parent key sides carry no hint: Catalyst's "
        "auto-broadcast threshold and AQE pick each join (at 100 TB "
        "the orders/customer edges become shuffled anti joins); the "
        "pipeline-health check run before any enrichment join is trusted."
    ),
)
def audit_referential_integrity(spark, sf_dir):
    from functools import reduce

    from pyspark.sql import DataFrame

    edges = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    outs = []
    for fk, child, ckey, parent, pkey in edges:
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent).select(pkey)
        orphans = c.join(p, c[ckey] == p[pkey], "left_anti")
        outs.append(
            c.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(F.lit(fk).alias("fk"), "n_child", "n_orphans")
        )
    return reduce(DataFrame.unionByName, outs)


@register(
    "bloom_join_building_orders",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({cents_sql('o.o_totalprice')}) AS BIGINT) / 100.0 AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    """,
    tags=("scale", "join", "bloom"),
    doc=(
        "Bloom-filter semi-join pruning (runtime join filter): orders is "
        "thinned by a 128 KiB bitmap of BUILDING customer keys BEFORE its "
        "shuffle, then merge-joined exactly — the regime where the dim is "
        "too big to broadcast exactly but its bitmap is not.  False "
        "positives are removed by the exact join, so the oracle is the "
        "plain join (operators/bloom.py; Spark's InjectRuntimeFilter "
        "shape, made explicit)."
    ),
)
def bloom_join_building_orders(spark, sf_dir):
    from ..operators.bloom import bloom_semi_join

    dim = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    fact = table(spark, sf_dir, "orders")
    pruned = bloom_semi_join(fact, "o_custkey", dim, "c_custkey")
    # Exact join with a merge hint: models the 100 TB case where the dim
    # side exceeds the broadcast ceiling (the bloom prune is what keeps
    # the fact-side exchange small).
    joined = pruned.join(dim.hint("merge"), pruned.o_custkey == dim.c_custkey)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("revenue"),
        )
    )


def _zorder_events_sql() -> str:
    from ..operators.zorder import zorder_key_sql

    # Identical SQL text on both engines -> bit-identical keys.
    return zorder_key_sql(["user_id", "CAST(round(value * 100) AS BIGINT)"], bits=16)


@register(
    "zorder_key_events",
    oracle=f"""
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST({{z}} AS BIGINT) AS zkey
    FROM events
    """.format(z=_zorder_events_sql()),
    tags=("scale", "layout", "zorder"),
    doc=(
        "Morton (Z-order) clustering key over (user_id, value-cents): the "
        "bit-interleaved key that zorder_write range-partitions and sorts "
        "on so parquet min-max stats skip 2-D box predicates in BOTH "
        "dimensions (operators/zorder.py; the Delta/Iceberg Z-ORDER "
        "OPTIMIZE technique).  Pure projection — no shuffle; the oracle "
        "evaluates the identical integer expression."
    ),
)
def zorder_key_events(spark, sf_dir):
    from ..operators.zorder import zorder_key

    e = table(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        zorder_key(["user_id", "CAST(round(value * 100) AS BIGINT)"], bits=16)
        .cast("long")
        .alias("zkey"),
    )


# ---------------------------------------------------------- PageRank
#
# Fixed-point PageRank: ranks carried as integer micro-units with
# integer division everywhere (contrib = rank DIV degree, damping =
# (850 * sum) DIV 1000), so every iteration is EXACT on both engines —
# the determinism trick that makes an iterative numeric algorithm
# oracle-checkable.  Classic float PageRank would drift by summation
# order; this one cannot.

_PR_ITERS = 3


def _pagerank_sql(iters: int) -> str:
    parts = [
        f"""{PURCHASE_SQL},
    r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS rank FROM deg)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    r{i} AS (
        SELECT e.v AS node,
               CAST(150000 + (850 * SUM(r.rank // d.d)) // 1000 AS BIGINT) AS rank
        FROM edges e
        JOIN r{i - 1} r ON r.node = e.u
        JOIN deg d ON d.u = e.u
        GROUP BY e.v
    )""")
    return "WITH " + ",".join(parts) + top_ranked_sql(f"r{iters}")


@register(
    "graph_pagerank_bipartite",
    oracle=_pagerank_sql(_PR_ITERS),
    tags=("graph", "iterative", "scale"),
    doc=(
        f"PageRank, {_PR_ITERS} power iterations over the bipartite "
        "customer-supplier graph induced by orders x lineitem (symmetric "
        "edges; damping 0.85).  Ranks are integer micro-units with "
        "integer division throughout, so each iteration is exact on both "
        "engines — no float summation-order drift.  Per iteration: one "
        "edge-keyed join against the previous ranks + one destination-"
        "keyed aggregation; degrees computed once.  Top-20 by rank."
    ),
)
def graph_pagerank_bipartite(spark, sf_dir):
    adj = bipartite(purchases(spark, sf_dir))
    deg = degrees(adj)
    ranks = deg.select(F.col("w").alias("node"), F.lit(1000000).cast("long").alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            adj.join(ranks, adj.w == ranks.node)
            .join(deg, "w")
            .select("nbr", F.expr("rank DIV d").alias("c"))
        )
        ranks = contrib.groupBy("nbr").agg(
            F.expr("CAST(150000 + (850 * SUM(c)) DIV 1000 AS BIGINT)").alias("rank")
        ).select(F.col("nbr").alias("node"), "rank")
    return top_ranked(ranks)


_PPR_ITERS = 3


def _ppr_sql(iters: int) -> str:
    parts = [
        f"""{PURCHASE_SQL},
    src AS (SELECT MIN(u) AS s FROM edges WHERE u % 2 = 0),
    r0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS rank FROM src)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    r{i} AS (
        SELECT node, CAST(SUM(val) AS BIGINT) AS rank FROM (
            SELECT e.v AS node,
                   (850 * SUM(r.rank // d.d)) // 1000 AS val
            FROM edges e
            JOIN r{i - 1} r ON r.node = e.u
            JOIN deg d ON d.u = e.u
            GROUP BY e.v
            UNION ALL
            SELECT s AS node, CAST(150000 AS BIGINT) AS val FROM src
        ) GROUP BY node
    )""")
    return "WITH " + ",".join(parts) + top_ranked_sql(f"r{iters}")


@register(
    "graph_personalized_pagerank",
    oracle=_ppr_sql(_PPR_ITERS),
    tags=("graph", "iterative", "scale"),
    doc=(
        f"Personalized PageRank (random walk with restart; Haveliwala "
        f"2002), {_PPR_ITERS} iterations from the lowest-id customer "
        "over the bipartite purchase graph: r = 0.15*e_src + 0.85*W r, "
        "in the registry's integer micro-unit discipline (DIV "
        "throughout, exact on both engines).  The rank table stays "
        "SPARSE — only reached nodes carry rows, the property that "
        "makes PPR the scalable per-user recommender primitive (the "
        "frontier is the source's neighborhood, never the full graph; "
        "global PageRank by contrast iterates a dense vector).  Per "
        "iteration: one edge join against the sparse ranks + one "
        "destination agg + a 1-row restart union; the whole loop is "
        "ONE lazy lineage (no per-round materialization — each round's "
        "ranks are consumed exactly once, the round-12 LPA lesson).  "
        "Top-20 by rank with the PageRank tie order."
    ),
)
def graph_personalized_pagerank(spark, sf_dir):
    adj = bipartite(purchases(spark, sf_dir))
    deg = degrees(adj)
    src = adj.filter(F.col("w") % 2 == 0).agg(F.min("w").alias("node"))
    ranks = src.select("node", F.lit(1000000).cast("long").alias("rank"))
    # the restart mass rides the SAME edge-grain aggregate as the walk
    # (q = per-edge rank DIV d, rv = restart units): one groupBy per
    # round replaces the former contrib-agg + union + re-agg pair —
    # r = COALESCE((850*SUM(q)) DIV 1000, 0) + SUM(rv) is exactly the
    # oracle's outer SUM over {walk val, restart val}, with the NULL
    # SUM(q) case covering a restart-only node (round 1: the source has
    # no incoming walk mass yet).  Saves one node-grain exchange + agg
    # stage per iteration; every term stays exact BIGINT.
    restart = src.select(
        "node",
        F.lit(None).cast("long").alias("q"),
        F.lit(150000).cast("long").alias("rv"),
    )
    for _ in range(_PPR_ITERS):
        contrib = (
            adj.join(ranks, adj.w == ranks.node)
            .join(deg, "w")
            .select(
                F.col("nbr").alias("node"),
                F.expr("rank DIV d").alias("q"),
                F.lit(0).cast("long").alias("rv"),
            )
        )
        ranks = (
            contrib.unionByName(restart)
            .groupBy("node")
            .agg(
                F.expr(
                    "CAST(COALESCE(CAST((850 * SUM(q)) DIV 1000 AS BIGINT), 0)"
                    " + SUM(rv) AS BIGINT)"
                ).alias("rank")
            )
        )
    return top_ranked(ranks)


@register(
    "temporal_scd2_asof_join",
    oracle=f"""
    WITH cur AS (
        SELECT c_custkey, c_mktsegment,
               '1992-01-01' AS valid_from, '9999-12-31' AS valid_to
        FROM customer
    ),
    chg AS (
        SELECT c_custkey, 'MOVED' AS c_mktsegment, '1995-06-01' AS change_date
        FROM customer WHERE c_custkey % 7 = 0
    ),
    dim AS (
        SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
               CASE WHEN g.c_custkey IS NOT NULL THEN g.change_date
                    ELSE c.valid_to END AS valid_to
        FROM cur c LEFT JOIN chg g ON c.c_custkey = g.c_custkey
        UNION ALL
        SELECT c_custkey, c_mktsegment, change_date AS valid_from,
               '9999-12-31' AS valid_to
        FROM chg
    )
    -- validity bounds are ISO-8601 strings (the scd2_apply fixture
    -- convention); the order date casts to 'YYYY-MM-DD', which orders
    -- lexicographically exactly like the date
    SELECT d.c_mktsegment AS segment_asof,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({cents_sql('o.o_totalprice')}) AS BIGINT) / 100.0 AS revenue
    FROM orders o
    JOIN dim d ON o.o_custkey = d.c_custkey
              AND CAST(o.o_orderdate AS VARCHAR) >= d.valid_from
              AND CAST(o.o_orderdate AS VARCHAR) < d.valid_to
    GROUP BY 1 ORDER BY 1
    """,
    tags=("scale", "merge", "join", "temporal"),
    doc=(
        "AS-OF join of a fact against an SCD type-2 dimension: every "
        "order picks the customer-segment version VALID AT its order "
        "date (valid_from inclusive, valid_to exclusive) — the "
        "production consumption side of scd2_history_equivalence, which "
        "only builds the history.  The dim is built by the same "
        "operators/merge.py::scd2_apply (keys %7 change segment on "
        "1995-06-01, inside the order-date range so both versions "
        "receive facts); the join is an EQUI join on the key with the "
        "validity window as a residual predicate — per-key version "
        "counts are small by construction in any SCD2 table, so this "
        "beats a range join, and at 100 TB fact and dim bucket on the "
        "key making the exchange free.  Exactly one version matches "
        "per fact row (windows partition the timeline), asserted by "
        "the oracle equality on n_orders.  Revenue in exact cents."
    ),
)
def temporal_scd2_asof_join(spark, sf_dir):
    from ..operators.merge import scd2_apply

    c = table(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1992-01-01").alias("valid_from"),
        F.lit("9999-12-31").alias("valid_to"),
    )
    changes = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("MOVED").alias("c_mktsegment"),
        F.lit("1995-06-01").alias("change_date"),
    )
    dim = scd2_apply(current, changes, "c_custkey", open_marker="9999-12-31")
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    od = F.col("o_orderdate").cast("string")  # ISO form: string order == date order
    joined = o.join(
        dim,
        (o.o_custkey == dim.c_custkey)
        & (od >= dim.valid_from)
        & (od < dim.valid_to),
    )
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment_asof"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum(cents("o_totalprice")).cast("long") / 100.0).alias("revenue"),
        )
        .orderBy("segment_asof")
    )


@register(
    "table_diff_orders_snapshot",
    oracle=f"""
    WITH fp AS (
        SELECT o_orderkey,
               md5(concat_ws('|', o_orderstatus,
                   CAST({cents_sql('o_totalprice')} AS VARCHAR),
                   o_orderpriority)) AS h
        FROM orders
    ),
    new_fp AS (
        SELECT o_orderkey,
               md5(concat_ws('|', o_orderstatus,
                   CAST(CASE WHEN o_orderkey % 89 = 0
                             THEN {cents_sql('o_totalprice')} + 100
                             ELSE {cents_sql('o_totalprice')} END AS VARCHAR),
                   o_orderpriority)) AS h
        FROM orders WHERE o_orderkey % 97 <> 0
    ),
    d AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.h <> n.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM fp o FULL OUTER JOIN new_fp n ON o.o_orderkey = n.o_orderkey
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY status
    """,
    tags=("scale", "cdc", "validation"),
    doc=(
        "Snapshot diff (CDC reconciliation): two versions of orders — "
        "the 'new' snapshot deterministically drops keys %97=0 and "
        "bumps totalprice on keys %89=0 — are classified added/removed/"
        "changed/unchanged by row fingerprint over one full outer join "
        "(operators/merge.py::table_diff).  Fingerprints render money "
        "as integer-cents strings so both engines hash identical bytes; "
        "at scale both snapshots are bucketed on the key and the join "
        "is exchange-free."
    ),
)
def table_diff_orders_snapshot(spark, sf_dir):
    from ..operators.merge import table_diff

    o = table(spark, sf_dir, "orders")
    fp = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderstatus"),
            cents("o_totalprice").cast("string"),
            F.col("o_orderpriority"),
        )
    )
    old = o.select("o_orderkey", fp.alias("__row_hash"))
    new_cents = F.when(
        F.col("o_orderkey") % 89 == 0, cents("o_totalprice") + 100
    ).otherwise(cents("o_totalprice"))
    new_fp = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderstatus"),
            new_cents.cast("string"),
            F.col("o_orderpriority"),
        )
    )
    new = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select("o_orderkey", new_fp.alias("__row_hash"))
    )
    return (
        table_diff(old, new, "o_orderkey")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "skew_key_profile",
    oracle="""
    WITH per_key AS (
        SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY o_custkey
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM per_key
    ),
    ranked AS (
        SELECT key, cnt,
               row_number() OVER (ORDER BY cnt DESC, key) AS rk
        FROM per_key
    )
    SELECT r.rk AS rk, r.key, r.cnt,
           round(CAST(r.cnt AS DOUBLE) / s.n_rows, 6) AS row_share,
           round(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows, 6)
               AS skew_factor
    FROM ranked r CROSS JOIN stats s
    WHERE r.rk <= 20
    ORDER BY rk
    """,
    tags=("scale", "skew", "profiling"),
    doc=(
        "Join-key skew diagnostic: per-key counts on orders.o_custkey, "
        "top-20 hottest keys with their row share, plus the global skew "
        "factor max_cnt/avg_cnt — the number that decides whether a "
        "downstream join on this key needs salting or AQE skew handling. "
        "One groupBy + a 1-row stats agg broadcast back over the top-k "
        "window; at 100 TB this is the cheap pre-flight you run before "
        "choosing a join strategy, and it reads ONLY the key column "
        "(column pruning reaches the scan)."
    ),
)
def skew_key_profile(spark, sf_dir):
    from pyspark.sql import Window as W

    per_key = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    stats = per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    # Explicit TakeOrdered over the (unbounded) keyspace, then rank the
    # <=20 survivors — the key grain is exactly what grows with skewed
    # 100 TB inputs, so it must never feed a single-partition window.
    top = per_key.orderBy(F.col("cnt").desc(), F.col("key")).limit(20)
    w = W.orderBy(F.col("cnt").desc(), F.col("key"))
    ranked = top.withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(stats))
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "key",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n_rows"), 6).alias("row_share"),
            F.round(
                F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("n_rows"), 6
            ).alias("skew_factor"),
        )
        .orderBy("rk")
    )


@register(
    "incremental_agg_merge",
    oracle=f"""
    SELECT date_trunc('month', o_orderdate) AS month,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) / 100.0 AS revenue,
           CAST(MAX({cents_sql('o_totalprice')}) AS BIGINT) / 100.0 AS max_price
    FROM orders
    GROUP BY date_trunc('month', o_orderdate), o_orderstatus
    """,
    tags=("scale", "incremental", "lakehouse"),
    doc=(
        "Incremental materialized-view maintenance: the monthly revenue "
        "rollup is computed as BASE (orders before 1998-01-01) and DELTA "
        "(orders on/after) partial aggregates, then algebraically merged "
        "(SUM of counts/sums, MAX of maxes) — the maintenance step a "
        "lakehouse runs per ingest batch instead of re-scanning 100 TB of "
        "history.  The oracle is the direct full GROUP BY, proving the "
        "merged relation is exactly the recomputed one (counts and cents "
        "are exact integers, so mergeability is lossless)."
    ),
)
def incremental_agg_merge(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        "o_orderstatus",
        cents("o_totalprice").alias("price_c"),
    )
    cut = F.lit("1998-01-01").cast("timestamp")

    def partial(df):
        return df.groupBy("month", "o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("price_c").cast("bigint").alias("sum_c"),
            F.max("price_c").cast("bigint").alias("max_c"),
        )

    base = partial(o.filter(F.col("month") < cut))
    delta = partial(o.filter(F.col("month") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("month", "o_orderstatus")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("sum_c").cast("bigint").alias("sum_c"),
            F.max("max_c").cast("bigint").alias("max_c"),
        )
    )
    return merged.select(
        "month",
        "o_orderstatus",
        "n_orders",
        (F.col("sum_c") / F.lit(100.0)).alias("revenue"),
        (F.col("max_c") / F.lit(100.0)).alias("max_price"),
    )


# PSI per-bin term (p-q)*ln(p/q) quantized to integer nano-units before
# the cross-bin SUM (exact bigint addition).  p and q are ratios of
# exact counts, so both engines feed ln identical doubles.
_PSI_TERM_SQL = (
    "CAST(round(((CAST(p_cnt AS DOUBLE) / p_tot) - (CAST(q_cnt AS DOUBLE) / q_tot))"
    " * ln((CAST(p_cnt AS DOUBLE) / p_tot) / (CAST(q_cnt AS DOUBLE) / q_tot))"
    " * 1000000000) AS BIGINT)"
)


@register(
    "drift_psi_event_values",
    oracle=f"""
    WITH binned AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END AS win,
               least(CAST(floor(value / 50.0) AS INT), 9) AS bin
        FROM events
    ),
    counts AS (
        SELECT win, bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM binned GROUP BY win, bin
    ),
    pivoted AS (
        SELECT bin,
               CAST(SUM(CASE WHEN win = 'ref' THEN cnt ELSE 0 END) AS BIGINT) AS p_cnt,
               CAST(SUM(CASE WHEN win = 'cur' THEN cnt ELSE 0 END) AS BIGINT) AS q_cnt
        FROM counts GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(p_cnt) AS BIGINT) AS p_tot,
               CAST(SUM(q_cnt) AS BIGINT) AS q_tot
        FROM pivoted
    )
    SELECT b.bin, b.p_cnt, b.q_cnt,
           round(CAST(b.p_cnt AS DOUBLE) / t.p_tot, 6) AS p_share,
           round(CAST(b.q_cnt AS DOUBLE) / t.q_tot, 6) AS q_share,
           CASE WHEN b.p_cnt > 0 AND b.q_cnt > 0
                THEN {_PSI_TERM_SQL}
                ELSE NULL END AS psi_term_nano
    FROM pivoted b CROSS JOIN tot t
    ORDER BY bin
    """,
    tags=("scale", "drift", "profiling"),
    doc=(
        "Population-stability-index drift screen: the events value "
        "distribution in the reference window (first half of January) vs "
        "the current window, over 10 fixed-width bins.  Per-bin PSI terms "
        "(p-q)*ln(p/q) are quantized to integer nano-units (order-exact; "
        "the total PSI is their sum downstream).  This is the per-batch "
        "data-quality gate a training pipeline runs on incoming shards: "
        "one scan, one small agg, no shuffle of the fact table beyond the "
        "10-bin rollup."
    ),
)
def drift_psi_event_values(spark, sf_dir):
    e = table(spark, sf_dir, "events").select(
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "ref")
        .otherwise("cur")
        .alias("win"),
        F.least(F.floor(F.col("value") / 50.0).cast("int"), F.lit(9)).alias("bin"),
    )
    counts = e.groupBy("win", "bin").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    pivoted = counts.groupBy("bin").agg(
        F.sum(F.when(F.col("win") == "ref", F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("p_cnt"),
        F.sum(F.when(F.col("win") == "cur", F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("q_cnt"),
    )
    tot = pivoted.agg(
        F.sum("p_cnt").cast("bigint").alias("p_tot"),
        F.sum("q_cnt").cast("bigint").alias("q_tot"),
    )
    joined = pivoted.join(F.broadcast(tot))
    return joined.select(
        "bin",
        "p_cnt",
        "q_cnt",
        F.round(F.col("p_cnt").cast("double") / F.col("p_tot"), 6).alias("p_share"),
        F.round(F.col("q_cnt").cast("double") / F.col("q_tot"), 6).alias("q_share"),
        F.when(
            (F.col("p_cnt") > 0) & (F.col("q_cnt") > 0), F.expr(_PSI_TERM_SQL)
        ).alias("psi_term_nano"),
    ).orderBy("bin")


# Declarative expectation suite over orders: each rule compiles to ONE
# conditional count inside a single aggregation pass (no per-rule scan),
# then unpivots to a (rule, violations, passed) report — the
# data-contract gate a pipeline evaluates per ingest batch.
_EXPECTATIONS = (
    ("orderkey_not_null", "o_orderkey IS NULL"),
    ("orderkey_positive", "o_orderkey <= 0"),
    ("totalprice_nonnegative", "o_totalprice < 0"),
    ("status_in_domain", "o_orderstatus NOT IN ('O', 'F', 'P')"),
    ("priority_in_domain",
     "o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')"),
    ("orderdate_in_range",
     "o_orderdate < TIMESTAMP '1990-01-01' OR o_orderdate > TIMESTAMP '2005-01-01'"),
)


@register(
    "audit_table_expectations",
    oracle=f"""
    WITH counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        {", ".join(
            f"CAST(COUNT(*) FILTER (WHERE {pred}) AS BIGINT) AS v{i}"
            for i, (_, pred) in enumerate(_EXPECTATIONS)
        )},
        CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_dup
        FROM orders
    )
    SELECT r.rule, r.violations, r.violations = 0 AS passed, counts.n_rows
    FROM counts, LATERAL (VALUES
        {", ".join(f"('{name}', v{i})" for i, (name, _) in enumerate(_EXPECTATIONS))},
        ('orderkey_unique', v_dup)
    ) AS r(rule, violations)
    ORDER BY r.rule
    """,
    tags=("scale", "validation", "profiling"),
    doc=(
        "Declarative data-contract audit (expectation suite): null/"
        "domain/range/uniqueness rules over orders compile into ONE "
        "aggregation pass (conditional counts + a distinct-count for the "
        "key-uniqueness rule), unpivoted to a per-rule pass/fail report "
        "— the ingest gate pattern where adding a rule adds a counter, "
        "never a scan.  At 100 TB the same pass rides the map-side "
        "partials of a single shuffle-to-one-row aggregate."
    ),
)
def audit_table_expectations(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for i, (_, pred) in enumerate(_EXPECTATIONS):
        aggs.append(
            F.sum(F.when(F.expr(pred), 1).otherwise(0)).cast("bigint").alias(f"v{i}")
        )
    aggs.append(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("bigint").alias("v_dup")
    )
    counts = o.agg(*aggs)
    pairs = [
        F.struct(F.lit(name).alias("rule"), F.col(f"v{i}").alias("violations"))
        for i, (name, _) in enumerate(_EXPECTATIONS)
    ] + [F.struct(F.lit("orderkey_unique").alias("rule"), F.col("v_dup").alias("violations"))]
    return (
        counts.select("n_rows", F.explode(F.array(*pairs)).alias("r"))
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.violations").alias("violations"),
            (F.col("r.violations") == 0).alias("passed"),
            "n_rows",
        )
        .orderBy("rule")
    )


@register(
    "clean_winsorize_event_values",
    oracle=f"""
    WITH v AS (
        SELECT event_type, {cents_sql('value')} AS v_c FROM events
    ),
    bounds AS (
        SELECT event_type,
               CAST(round(quantile_cont(CAST(v_c AS DOUBLE), 0.01)) AS BIGINT) AS lo_c,
               CAST(round(quantile_cont(CAST(v_c AS DOUBLE), 0.99)) AS BIGINT) AS hi_c
        FROM v GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(b.lo_c AS BIGINT) / 100.0 AS lo,
           CAST(b.hi_c AS BIGINT) / 100.0 AS hi,
           CAST(COUNT(*) FILTER (WHERE v.v_c < b.lo_c) AS BIGINT) AS n_clipped_low,
           CAST(COUNT(*) FILTER (WHERE v.v_c > b.hi_c) AS BIGINT) AS n_clipped_high,
           CAST(SUM(least(greatest(v.v_c, b.lo_c), b.hi_c)) AS BIGINT) / 100.0
               AS winsorized_sum
    FROM v JOIN bounds b USING (event_type)
    GROUP BY v.event_type, b.lo_c, b.hi_c
    ORDER BY v.event_type
    """,
    tags=("scale", "cleaning", "stats"),
    doc=(
        "Winsorization (percentile outlier clipping) of event values per "
        "type: exact p1/p99 bounds (percentile over integer cents, bound "
        "rounded back to integer cents so the clipped SUM stays exact "
        "bigint arithmetic), clip audit counts, and the winsorized total "
        "— the standard robust-statistics cleaning step before training "
        "on heavy-tailed value columns.  Two passes by necessity (order "
        "statistics, then clip) but the second pass joins a 5-row "
        "broadcast bounds table — the fact table shuffles only for the "
        "final per-type rollup."
    ),
)
def clean_winsorize_event_values(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    v = e.select("event_type", cents("value").alias("v_c"))
    bounds = v.groupBy("event_type").agg(
        F.round(F.expr("percentile(CAST(v_c AS DOUBLE), 0.01)")).cast("bigint").alias("lo_c"),
        F.round(F.expr("percentile(CAST(v_c AS DOUBLE), 0.99)")).cast("bigint").alias("hi_c"),
    )
    clipped = v.join(F.broadcast(bounds), "event_type")
    win = F.least(F.greatest(F.col("v_c"), F.col("lo_c")), F.col("hi_c"))
    return (
        clipped.groupBy("event_type", "lo_c", "hi_c")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("v_c") < F.col("lo_c"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum(F.when(F.col("v_c") > F.col("hi_c"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_high"),
            (F.sum(win).cast("bigint") / F.lit(100.0)).alias("winsorized_sum"),
        )
        .select(
            "event_type",
            "n",
            (F.col("lo_c") / F.lit(100.0)).alias("lo"),
            (F.col("hi_c") / F.lit(100.0)).alias("hi"),
            "n_clipped_low",
            "n_clipped_high",
            "winsorized_sum",
        )
        .orderBy("event_type")
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {CO_SQL},
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM co UNION ALL SELECT v FROM co
        ) GROUP BY node
    ),
    okey AS (SELECT node, d * 1000000000 + node AS k FROM deg),
    oriented AS (
        SELECT CASE WHEN ku.k < kv.k THEN u ELSE v END AS s,
               CASE WHEN ku.k < kv.k THEN v ELSE u END AS t,
               CASE WHEN ku.k < kv.k THEN kv.k ELSE ku.k END AS t_k
        FROM co JOIN okey ku ON co.u = ku.node JOIN okey kv ON co.v = kv.node
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM oriented e1
        JOIN oriented e2 ON e1.s = e2.s AND e1.t_k < e2.t_k
        JOIN oriented e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    tots AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    ),
    ecnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM co)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           round(3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE), 6)
             AS global_clustering
    FROM tots CROSS JOIN ecnt CROSS JOIN tri
    """,
    tags=("graph", "scale"),
    doc=(
        "Triangle count + global clustering coefficient of the part "
        "co-purchase graph (parts sharing an order).  Uses DEGREE-ORDERED "
        "orientation (Chiba-Nishizeki / Schank-Wagner): every edge points "
        "from its lower-(degree,id) endpoint, so each node's out-degree "
        "is bounded by O(sqrt(edges)) regardless of hub skew.  Triangles "
        "close by ADJACENCY-SET INTERSECTION (Latapy compact-forward): "
        "two edge-grain hash joins fetch out(s) and out(t), and "
        "|out(s) ∩ out(t)| is a codegen hash intersection per edge — the "
        "wedge set (sum of outdeg^2 rows) is never materialized or "
        "shuffled.  Wedge totals come from the degree aggregate, never "
        "enumerated.  The oracle keeps the equivalent wedge-join SQL "
        "(DuckDB has no array-intersection fast path); both count each "
        "triangle exactly once at its degree-minimal base edge."
    ),
)
def graph_triangle_count(spark, sf_dir):
    co = co_pairs(spark, sf_dir)
    deg = degrees(adjacency(co))
    okey = deg.select("w", (F.col("d") * 1000000000 + F.col("w")).alias("k"))
    ku = okey.select(F.col("w").alias("u"), F.col("k").alias("ku"))
    kv = okey.select(F.col("w").alias("v"), F.col("k").alias("kv"))
    oriented = materialize(
        co.join(ku, "u").join(kv, "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("t"),
        ),
        "graph_triangle_count oriented edges: adjacency build and closing joins",
    )
    # Triangle closing via adjacency-set intersection (the edge-iterator
    # of Latapy 2008 / compact-forward): build each node's ORIENTED
    # out-neighbor array once — out-degree is O(sqrt(m))-bounded by the
    # degree orientation — then for every oriented edge (s,t) count
    # |out(s) ∩ out(t)| inside codegen.  This replaces the r<=10 wedge
    # SELF-JOIN, which shuffled the materialized wedge set (sum of
    # outdeg^2 rows, 10-40x the edge count) into a third hash join;
    # here the wedge never exists as rows — two edge-grain hash joins
    # against the node-grain adjacency table, one O(|a|+|b|) hash
    # intersection per edge, and a scalar sum.  Each triangle (s<t<w in
    # degree order) is counted exactly once: w appears in out(s) and
    # out(t) for the single oriented base edge (s,t).
    adj = oriented.groupBy("s").agg(F.collect_list("t").alias("nbrs"))
    tri = (
        oriented.join(adj, "s")
        .join(
            adj.select(F.col("s").alias("t"), F.col("nbrs").alias("nbrs_t")),
            "t",  # inner: an edge whose head has no out-edges closes nothing
        )
        .select(F.size(F.array_intersect("nbrs", "nbrs_t")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    tots = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    ecnt = co.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        tots.crossJoin(F.broadcast(ecnt)).crossJoin(F.broadcast(tri))
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            F.round(3.0 * F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double"), 6).alias("global_clustering"),
        )
    )


@register(
    "clean_impute_group_median",
    oracle=f"""
    WITH masked AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    med AS (
        SELECT event_type,
               quantile_cont(CAST({cents_sql("v")} AS DOUBLE), 0.5) AS med_cents
        FROM masked WHERE v IS NOT NULL GROUP BY event_type
    )
    SELECT m.event_id, m.event_type,
           m.v IS NULL AS was_missing,
           round(COALESCE({cents_sql("m.v")}, med.med_cents) / 100.0, 4) AS value_imputed
    FROM masked m JOIN med ON m.event_type = med.event_type
    """,
    tags=("clean", "pipeline"),
    doc=(
        "Median imputation by group: per-event-type EXACT interpolated "
        "median of the observed values (integer-cents percentile — the "
        "same cross-engine-exact quantile as agg_exact_quantiles) fills "
        "the nulls via a broadcast join on the group key.  One agg over "
        "the non-null slice + one broadcast probe; the fact table never "
        "shuffles.  (A 1-in-7 deterministic mask stands in for real "
        "missingness so the oracle is replayable.)"
    ),
)
def clean_impute_group_median(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    masked = e.select(
        "event_id", "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")).alias("v"),
    )
    med = (
        masked.filter(F.col("v").isNotNull())
        .groupBy("event_type")
        .agg(F.expr("percentile(CAST(round(v * 100) AS BIGINT), 0.5)").alias("med_cents"))
    )
    return (
        masked.join(F.broadcast(med), "event_type")
        .select(
            "event_id", "event_type",
            F.col("v").isNull().alias("was_missing"),
            F.round(F.coalesce(cents("v").cast("double"), F.col("med_cents")) / 100.0, 4)
            .alias("value_imputed"),
        )
    )


_AA_TOP_K = 50


@register(
    "graph_adamic_adar_links",
    oracle=f"""
    WITH {CO_SQL},
    {ADJ_SQL},
    {DEG_SQL},
    contrib AS (
        SELECT a.w, a.nbr,
               CAST(round(1000000000.0 / ln(CAST(deg.d AS DOUBLE))) AS BIGINT)
                 AS c_e9
        FROM adj a JOIN deg ON a.w = deg.w
        WHERE deg.d BETWEEN 2 AND {MAX_CENTER_DEGREE}
    ),
    wedges AS (
        SELECT x.nbr AS u, y.nbr AS v, x.c_e9
        FROM contrib x JOIN contrib y
          ON x.w = y.w AND x.nbr < y.nbr
    ),
    scored AS (
        SELECT u, v, CAST(SUM(c_e9) AS BIGINT) AS score_e9,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM wedges GROUP BY u, v
    ),
    novel AS (
        SELECT s.u, s.v, s.score_e9, s.n_common
        FROM scored s ANTI JOIN co ON s.u = co.u AND s.v = co.v
    )
    SELECT u, v, n_common,
           CAST(score_e9 AS DOUBLE) / 1000000000 AS aa_score
    FROM novel
    ORDER BY score_e9 DESC, u, v
    LIMIT {_AA_TOP_K}
    """,
    tags=("graph", "scale"),
    doc=(
        "Adamic-Adar link prediction over the part co-purchase graph: "
        "for each non-adjacent pair, sum 1/ln(deg(w)) over common "
        "neighbors w (Adamic & Adar 2003).  Wedges enumerate per CENTER "
        f"node with a degree cap of {MAX_CENTER_DEGREE} "
        "(high-degree centers contribute "
        "~0 signal but quadratic cost — the cap is the hub guard, "
        "mirrored in the oracle), existing edges drop via an anti join, "
        "and the top-50 is a TakeOrdered partial top-k.  Contributions "
        "quantize to integer e9 units before the pair aggregation so "
        "the scores sum order-independently (the MI nano-unit pattern)."
    ),
)
def graph_adamic_adar_links(spark, sf_dir):
    co = co_pairs(spark, sf_dir)
    adj = adjacency(co)
    # each wedge's center contributes 1/ln(d), quantized to integer e9
    c_e9 = F.round(F.lit(1000000000.0) / F.log(F.col("d").cast("double"))).cast("long")
    scored = capped_wedges(adj, degrees(adj)).groupBy("u", "v").agg(
        F.sum(c_e9).alias("score_e9"), F.count(F.lit(1)).alias("n_common")
    )
    novel = scored.join(co, ["u", "v"], "left_anti")
    return (
        novel.select(
            "u",
            "v",
            "n_common",
            (F.col("score_e9").cast("double") / 1000000000).alias("aa_score"),
            "score_e9",
        )
        .orderBy(F.col("score_e9").desc(), "u", "v")
        .limit(_AA_TOP_K)
        .drop("score_e9")
    )


_BFS_MAX_HOPS = 3


@register(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {CO_SQL},
    {ADJ_SQL},
    src AS (SELECT MIN(u) AS s FROM co),
    bfs AS (
        SELECT (SELECT s FROM src) AS node, 0 AS hop
        UNION ALL
        SELECT adj.nbr, bfs.hop + 1
        FROM bfs JOIN adj ON adj.w = bfs.node
        WHERE bfs.hop < {_BFS_MAX_HOPS}
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(hop) AS BIGINT) AS hop
    FROM bfs GROUP BY node ORDER BY hop, node
    """,
    tags=("graph", "scale"),
    doc=(
        "Level-synchronous BFS: min-hop distance from the lowest-id "
        "part to every node within 3 hops of the co-purchase graph.  "
        "The Spark side is the scalable form — per level ONE hash join "
        "of the current frontier against the adjacency list plus an "
        "anti join against the visited set, so each edge is relaxed at "
        "most once per level and the visited set never re-expands "
        "(Pregel's BFS in DataFrame ops; contrast the oracle's "
        "recursive CTE, which re-walks every path and is exponential "
        "in hop count — fine for a 3-hop check, unusable at scale).  "
        "The checkpointed edge list is scanned once."
    ),
)
def graph_bfs_hops(spark, sf_dir):
    co = co_pairs(spark, sf_dir)
    adj = adjacency(co)
    src = co.agg(F.min("u").alias("node")).select(
        "node", F.lit(0).cast("long").alias("hop")
    )
    # level-synchronous expansion; each FRONTIER checkpoints (it is
    # consumed twice: the expansion join and the visited union), but
    # `visited` stays a lazy union over the already-materialized levels
    # — its consumers just re-scan k cached RDDs, so checkpointing the
    # union again was one pure-scheduling job per level for nothing
    visited = materialize(src, "graph_bfs_hops sources: the expansion join and the visited union")
    frontier = visited
    for h in range(1, _BFS_MAX_HOPS + 1):
        nxt = materialize(
            frontier.join(adj, frontier.node == adj.w)
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("hop")),
            "graph_bfs_hops level: the next expansion and the visited union",
        )
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited.select(
        F.col("node").cast("bigint").alias("node"), "hop"
    ).orderBy("hop", "node")


@register(
    "audit_benford_first_digit",
    oracle="""
    WITH obs AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM orders WHERE o_totalprice > 0
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    terms AS (
        SELECT digit, n_obs, n,
               CAST(n AS DOUBLE) * log10(1.0 + 1.0 / digit) AS expected,
               -- chi-square contribution quantized to e6 BEFORE the
               -- cross-digit sum (order-independent reduction)
               CAST(round(1000000.0
                          * pow(CAST(n_obs AS DOUBLE)
                                - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / digit), 2)
                          / (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / digit)))
                    AS BIGINT) AS term_e6
        FROM obs CROSS JOIN tot
    ),
    chi AS (SELECT CAST(SUM(term_e6) AS BIGINT) AS chi_e6 FROM terms)
    SELECT digit, n_obs,
           round(CAST(n_obs AS DOUBLE) / n, 6) AS obs_share,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_share,
           round(CAST(chi_e6 AS DOUBLE) / 1000000.0, 4) AS chi2_stat
    FROM terms CROSS JOIN chi
    ORDER BY digit
    """,
    tags=("audit", "stats", "scale"),
    doc=(
        "Benford's-law first-significant-digit audit of o_totalprice — "
        "the classic fraud/synthetic-data screen: observed digit shares "
        "vs log10(1+1/d), with the chi-square statistic against the "
        "Benford expectation.  The digit extracts from the exact cents "
        "integer's decimal string (float formatting never touches the "
        "comparison); each chi-square contribution quantizes to integer "
        "e6 units before the cross-digit sum, so the statistic is "
        "order-independent.  One hash agg at digit grain (9 groups) — "
        "the scan is the only data-sized cost at any corpus size."
    ),
)
def audit_benford_first_digit(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(cents("o_totalprice").cast("string"), 1, 1).cast("long")
    obs = materialize(
        o.groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs")),
        "audit_benford_first_digit digit counts: totals, terms and output",
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    expected = F.col("n").cast("double") * F.log10(1.0 + 1.0 / F.col("digit"))
    terms = obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        "n",
        F.round(
            1000000.0
            * F.pow(F.col("n_obs").cast("double") - expected, 2)
            / expected
        )
        .cast("long")
        .alias("term_e6"),
    )
    chi = terms.agg(F.sum("term_e6").cast("long").alias("chi_e6"))
    return (
        terms.crossJoin(F.broadcast(chi))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs").cast("double") / F.col("n"), 6).alias("obs_share"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_share"),
            F.round(F.col("chi_e6").cast("double") / 1000000.0, 4).alias("chi2_stat"),
        )
        .orderBy("digit")
    )


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH {CO_SQL},
    {ADJ_SQL},
    {DEG_SQL},
    capped AS (
        SELECT a.w, a.nbr FROM adj a JOIN deg ON a.w = deg.w
        WHERE deg.d BETWEEN 2 AND {MAX_CENTER_DEGREE}
    ),
    wedges AS (
        SELECT x.nbr AS u, y.nbr AS v
        FROM capped x JOIN capped y
          ON x.w = y.w AND x.nbr < y.nbr
    ),
    common AS (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM wedges GROUP BY u, v
    ),
    novel AS (
        SELECT c.u, c.v, c.n_common, du.d AS du, dv.d AS dv
        FROM (SELECT s.* FROM common s ANTI JOIN co
              ON s.u = co.u AND s.v = co.v) c
        JOIN deg du ON c.u = du.w JOIN deg dv ON c.v = dv.w
    )
    SELECT u, v, n_common,
           round(CAST(n_common AS DOUBLE) / (du + dv - n_common), 6)
             AS jaccard
    FROM novel
    ORDER BY CAST(n_common AS DOUBLE) / (du + dv - n_common) DESC, u, v
    LIMIT {_AA_TOP_K}
    """,
    tags=("graph", "scale"),
    doc=(
        "Neighborhood-Jaccard link prediction over the part co-purchase "
        "graph — the set-overlap complement to graph_adamic_adar_links: "
        "for non-adjacent pairs, J = |common| / (deg(u)+deg(v)-|common|). "
        "Wedges enumerate per CENTER with the shared degree cap (the "
        "hub guard; common counts through capped centers only, a "
        "documented lower bound exactly mirrored in the oracle), known "
        "edges drop via anti join, endpoint degrees join from the "
        "dimension-sized degree table, and the top-50 is a TakeOrdered "
        "partial.  Ranking divides exact integers once — identical "
        "doubles both engines, key tie-break."
    ),
)
def graph_jaccard_neighbors(spark, sf_dir):
    co = co_pairs(spark, sf_dir)
    adj = adjacency(co)
    deg = materialize(
        degrees(adj), "graph_jaccard_neighbors degrees: the cap join and both degree sides"
    )
    common = capped_wedges(adj, deg).groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    novel = (
        common.join(co, ["u", "v"], "left_anti")
        .join(
            deg.select(F.col("w").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("w").alias("v"), F.col("d").alias("dv")),
            "v",
        )
    )
    j = F.col("n_common").cast("double") / (
        F.col("du") + F.col("dv") - F.col("n_common")
    )
    return (
        novel.select("u", "v", "n_common", j.alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(_AA_TOP_K)
        .select("u", "v", "n_common", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------- k-core

# "Stable" co-purchase graph: part pairs co-purchased in >= 2 DISTINCT
# orders.  The raw co-purchase graph is too dense to peel (min degree
# 42 at sf0.01); the support filter is the standard market-basket move
# and leaves a graph whose 3-core peeling takes many rounds — the
# interesting regime for an iterative-peel operator.
_KCORE_K = 3
_KCORE_ROUNDS = 10  # sf0.001 is stable after round 1; sf0.01 has not
#                     converged by round 10 (936 -> 935), which the
#                     `converged` column reports at any SF

def _kcore_oracle() -> str:
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each layer references its predecessor twice, so 10 unrolled
    # layers would otherwise expand to 2^10 scans of the base table
    # (reproduced: 'Too many open files' on the parquet view).
    layers = []
    prev = "n0"
    for i in range(1, _KCORE_ROUNDS + 1):
        layers.append(
            f"k{i} AS MATERIALIZED (SELECT a.w FROM adj a "
            f"JOIN {prev} s ON a.w = s.w JOIN {prev} x ON a.nbr = x.w "
            f"GROUP BY a.w HAVING COUNT(*) >= {_KCORE_K})"
        )
        prev = f"k{i}"
    rounds_sql = "\n        UNION ALL ".join(
        f"SELECT {i} AS round, (SELECT COUNT(*) FROM k{i}) AS nodes_remaining"
        for i in range(1, _KCORE_ROUNDS + 1)
    )
    last, second = f"k{_KCORE_ROUNDS}", f"k{_KCORE_ROUNDS - 1}"
    layers_sql = ",\n    ".join(layers)
    return f"""
    WITH {STABLE_CO_SQL},
    n0 AS MATERIALIZED (SELECT DISTINCT w FROM adj),
    {layers_sql}
    SELECT CAST(round AS BIGINT) AS round,
           CAST(nodes_remaining AS BIGINT) AS nodes_remaining,
           (SELECT COUNT(*) FROM {last}) = (SELECT COUNT(*) FROM {second})
             AS converged
    FROM ({rounds_sql})
    ORDER BY round
    """


@register(
    "graph_kcore_peel_profile",
    oracle=_kcore_oracle(),
    tags=("graph", "scale", "iterative"),
    doc=(
        f"k-core decomposition profile (k={_KCORE_K}) of the stable "
        "(support>=2) part co-purchase graph: repeatedly delete nodes "
        "with in-subgraph degree < k until fixpoint (Seidman 1983; "
        "Batagelj-Zaversnik peeling), reporting nodes remaining after "
        f"each of {_KCORE_ROUNDS} level-synchronous rounds plus a "
        "convergence flag — the community-stability screen that "
        "separates durable product affinities from one-off baskets.  "
        "Spark side: ONE checkpointed edge list, then per round ONE "
        "semi-join of the adjacency against the surviving node set per "
        "endpoint + a degree hash agg — per-round cost O(surviving "
        "edges), the Pregel peel shape; the surviving-set DataFrame is "
        "checkpointed per round so round r+1 never re-derives the "
        "chain.  Rounds past the fixpoint are no-ops by construction "
        "(membership is stable), so once a round keeps every node the "
        "rest are filled in without running, and the fixed round count "
        "is deterministic at every SF while the `converged` column "
        "cross-checks that the unrolled oracle reached the same "
        "fixpoint.  Per-round node counts are bounded driver scalars "
        "(the profile IS the output)."
    ),
)
def graph_kcore_peel_profile(spark, sf_dir):
    from pyspark.sql import Observation

    _, adj = stable_co(spark, sf_dir)

    def survivors(df, reason):
        # the survivor count rides on the materialization's own job (an
        # observed metric), so the fixed-point check launches no job
        obs = Observation()
        kept = materialize(df.observe(obs, F.count(F.lit(1)).alias("n")), reason)
        return kept, obs.get["n"]

    keep, n = survivors(
        adj.select("w").distinct(),
        "graph_kcore_peel_profile survivors: both semi-joins of the first round",
    )
    # Each round's survivors are a subset of the previous round's, so an
    # equal count means an equal set: every later round repeats it, and
    # the rounds past the fixed point are filled in without running.
    counts: list[int] = []
    while len(counts) < _KCORE_ROUNDS:
        keep, kept = survivors(
            adj.join(keep, "w", "left_semi")
            .join(
                keep.select(F.col("w").alias("nbr")), "nbr", "left_semi"
            )
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("w"),
            "graph_kcore_peel_profile survivors: both semi-joins of the next round",
        )
        counts.append(kept)
        if kept == n:
            counts += [kept] * (_KCORE_ROUNDS - len(counts))
        n = kept
    converged = counts[-1] == counts[-2]
    return local_frame(
        spark,
        "round bigint, nodes_remaining bigint, converged boolean",
        [(r, c, converged) for r, c in enumerate(counts, 1)],
    ).orderBy("round")


@register(
    "graph_local_clustering_coeff",
    oracle=f"""
    WITH {STABLE_CO_SQL},
    {DEG_SQL},
    tri AS (
        SELECT x.w, CAST(COUNT(*) AS BIGINT) AS t
        FROM adj x JOIN adj y ON x.w = y.w AND x.nbr < y.nbr
        JOIN co ON co.u = x.nbr AND co.v = y.nbr
        GROUP BY x.w
    )
    SELECT deg.w AS node, deg.d AS degree,
           COALESCE(tri.t, 0) AS triangles,
           round(CAST(2 * COALESCE(tri.t, 0) AS DOUBLE)
                 / (deg.d * (deg.d - 1)), 6) AS clustering_coeff
    FROM deg LEFT JOIN tri ON deg.w = tri.w
    WHERE deg.d >= 2
    ORDER BY node
    """,
    tags=("graph", "scale"),
    doc=(
        "Per-node local clustering coefficient (Watts-Strogatz 1998) "
        "over the stable co-purchase graph: c(v) = 2*tri(v)/(d(v)*(d(v)"
        "-1)) — how tightly each part's co-purchase neighborhood "
        "closes into triangles (the node-grain companion to the global "
        "graph_triangle_count).  Wedges enumerate per center as one "
        "adjacency self-join (x.nbr < y.nbr halves the pairs), close "
        "via ONE hash join against the u<v edge list, and reduce per "
        "node — all shuffle-hash/broadcast joins on graph keys, no "
        "per-node iteration.  The support-2 graph keeps median degree "
        "~3, so wedge volume is Sum d(v)^2 with small d — the hub cap "
        "the AA/Jaccard queries need is unnecessary here and exactness "
        "is preserved.  The coefficient divides exact integers once "
        "(identical doubles both engines)."
    ),
)
def graph_local_clustering_coeff(spark, sf_dir):
    co, adj = stable_co(spark, sf_dir)
    deg = degrees(adj)
    x = adj.alias("x")
    y = adj.alias("y")
    wedges = x.join(
        y, (F.col("x.w") == F.col("y.w")) & (F.col("x.nbr") < F.col("y.nbr"))
    ).select(F.col("x.w").alias("w"), F.col("x.nbr").alias("u"), F.col("y.nbr").alias("v"))
    tri = (
        wedges.join(co, ["u", "v"], "left_semi")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, "w", "left")
        .select(
            F.col("w").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            F.round(
                (2 * F.coalesce(F.col("t"), F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy("node")
    )


# ------------------------------------------------- label propagation

_LPA_ROUNDS = 4


def _lpa_layers() -> tuple[str, str]:
    """Unrolled synchronous-LPA CTE layers; returns (sql, final_name)."""
    layers = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        layers.append(
            f"""
    l{r} AS MATERIALIZED (
        SELECT w, label FROM (
            SELECT a.w, p.label,
                   row_number() OVER (PARTITION BY a.w
                                      ORDER BY COUNT(*) DESC, p.label) AS rk
            FROM adj a JOIN {prev} p ON a.nbr = p.w
            GROUP BY a.w, p.label
        ) WHERE rk = 1
    )"""
        )
        prev = f"l{r}"
    return ",".join(layers), prev


def _lpa_oracle() -> str:
    layers_sql, prev = _lpa_layers()
    return f"""
    WITH {STABLE_CO_SQL},
    l0 AS MATERIALIZED (SELECT DISTINCT w, w AS label FROM adj),
    {layers_sql}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS size
    FROM {prev}
    GROUP BY label HAVING COUNT(*) >= 2
    ORDER BY community
    """


def _lpa_labels(spark, sf_dir):
    """Run the synchronous LPA rounds; returns (co, adj, labels)."""
    co, adj = stable_co(spark, sf_dir)
    labels = adj.select("w").distinct().select("w", F.col("w").alias("label"))
    for _ in range(_LPA_ROUNDS):
        counted = (
            adj.join(
                labels.select(F.col("w").alias("nbr"), "label"), "nbr"
            )
            .groupBy("w", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        wv = W.partitionBy("w").orderBy(F.col("c").desc(), F.col("label"))
        # NO per-round checkpoint: each round's labels are consumed
        # exactly once (by the next round's join, or by the caller), so
        # the lineage stays linear and the whole loop executes as ONE
        # job — 4 materialization actions of pure scheduling cost
        # removed (measured 4.18 -> 3.95 s warm, 8.8 -> 5.1 s cold at
        # sf0.1).  Callers that consume the final labels more than once
        # (graph_modularity_lpa) checkpoint the result themselves.
        labels = (
            counted.withColumn("rk", F.row_number().over(wv))
            .filter(F.col("rk") == 1)
            .select("w", "label")
        )
    return co, adj, labels


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    tags=("graph", "scale", "iterative"),
    doc=(
        f"Synchronous label propagation ({_LPA_ROUNDS} rounds; Raghavan "
        "et al. 2007) over the stable co-purchase graph: every node "
        "adopts the label most frequent among its neighbors, ties to "
        "the smallest label — the near-linear community detector, "
        "distinct from connected components (dedup_clusters_connected "
        "finds REACHABILITY; LPA finds DENSITY, splitting a connected "
        "graph into cohesive neighborhoods).  Deterministic by "
        "construction: synchronous updates + total (count DESC, label) "
        "tie order.  Per round: ONE hash join of the checkpointed "
        "adjacency against the label table, a (node, label) hash agg, "
        "and a per-node argmax window — O(E) per round, the Pregel "
        "shape.  Output: communities with >= 2 members after the "
        "fixed round budget.  Oracle replays the rounds as unrolled "
        "MATERIALIZED CTEs."
    ),
)
def graph_label_propagation(spark, sf_dir):
    _, _, labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .filter(F.col("size") >= 2)
        .select(F.col("label").cast("long").alias("community"), "size")
        .orderBy("community")
    )


# ------------------------------------------------- observe-API audit

@register(
    "audit_observe_single_pass",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) AS total_cents,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_priorities,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS nonpositive_totals,
           CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
                AS BIGINT) AS n_urgent
    FROM orders
    """,
    tags=("audit", "scale", "observability"),
    doc=(
        "Single-pass audit metrics via Spark's Observation API "
        "(df.observe): row count, exact cents total, null/nonpositive "
        "violation counts and a segment count are collected AS THE "
        "SCAN FLOWS — the A1/A2-style reconciliation numbers without a "
        "second pass over the table, which at 100 TB is the difference "
        "between free telemetry and a duplicated job.  The observe "
        "node rides the existing action; metrics arrive on the driver "
        "as a bounded struct (no rows collected).  The returned "
        "1-row DataFrame is the observed struct itself; the oracle "
        "recomputes the same aggregates relationally."
    ),
)
def audit_observe_single_pass(spark, sf_dir):
    from pyspark.sql import Observation

    o = table(spark, sf_dir, "orders")
    obs = Observation("audit")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(cents("o_totalprice")).cast("long").alias("total_cents"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_priorities"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("nonpositive_totals"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
        .cast("long")
        .alias("n_urgent"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return local_frame(
        spark,
        "n_rows bigint, total_cents bigint, null_priorities bigint,"
        " nonpositive_totals bigint, n_urgent bigint",
        [
            (
                m["n_rows"],
                m["total_cents"],
                m["null_priorities"],
                m["nonpositive_totals"],
                m["n_urgent"],
            )
        ],
    )


# --------------------------------------------- association rules

@register(
    "basket_association_rules",
    oracle="""
    WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_b AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM op),
    item AS MATERIALIZED (
        SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY 1
    ),
    pair AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    rules AS (
        SELECT r.ante, r.cons, r.c AS support,
               CAST(round(1e6 * CAST(r.c AS DOUBLE) / ia.c) AS BIGINT)
                 AS conf_e6,
               CAST(round(1e6 * CAST(r.c AS DOUBLE) * n_b.n
                          / (CAST(ia.c AS DOUBLE) * ic.c)) AS BIGINT)
                 AS lift_e6
        FROM (
            SELECT u AS ante, v AS cons, c FROM pair
            UNION ALL
            SELECT v, u, c FROM pair
        ) r
        JOIN item ia ON ia.p = r.ante
        JOIN item ic ON ic.p = r.cons
        CROSS JOIN n_b
    )
    SELECT CAST(ante AS BIGINT) AS antecedent,
           CAST(cons AS BIGINT) AS consequent,
           support,
           round(conf_e6 / 1e6, 6) AS confidence,
           round(lift_e6 / 1e6, 6) AS lift
    FROM rules
    ORDER BY lift_e6 DESC, antecedent, consequent
    LIMIT 100
    """,
    tags=("agg", "scale", "analytics"),
    doc=(
        "Association-rule mining (Agrawal-Srikant market-basket): top-"
        "100 part->part rules by LIFT with support >= 2, confidence = "
        "supp(ab)/supp(a), lift = supp(ab)*N/(supp(a)*supp(b)).  The "
        "pair enumeration is the LINEAR per-basket sorted-set explode "
        "(basket size is bounded — TPC-H orders cap at 7 lines — so "
        "pair volume is O(orders), never an item-grain self-join); "
        "item supports and the basket total re-aggregate the same "
        "distinct (order, part) grain.  Both ratios quantize to e6 "
        "integers for the deterministic (lift, ante, cons) ranking "
        "before the TakeOrdered top-100."
    ),
)
def basket_association_rules(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # ONE basket-grain intermediate (a row per order, sorted distinct
    # parts) serves all three consumers — strictly smaller than the
    # (order, part) grain, and the only corpus-scale shuffle
    baskets = materialize(
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps")),
        "basket_association_rules baskets: count, items and pairs",
    )
    n_b = baskets.agg(F.count(F.lit(1)).cast("long").alias("n"))
    item = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pair = (
        baskets
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i+2, size(ps)), y -> struct(x AS u, y AS v))))"
                )
            ).alias("pr")
        )
        .select("pr.u", "pr.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= 2)
    )
    rules = pair.select(
        F.col("u").alias("ante"), F.col("v").alias("cons"), "c"
    ).unionAll(
        pair.select(F.col("v").alias("ante"), F.col("u").alias("cons"), "c")
    )
    out = (
        rules.join(item.select(F.col("p").alias("ante"), F.col("c").alias("ca")), "ante")
        .join(item.select(F.col("p").alias("cons"), F.col("c").alias("cc")), "cons")
        .crossJoin(F.broadcast(n_b))
        .select(
            "ante",
            "cons",
            F.col("c").alias("support"),
            F.round(1e6 * F.col("c").cast("double") / F.col("ca"))
            .cast("long")
            .alias("conf_e6"),
            F.round(
                1e6
                * F.col("c").cast("double")
                * F.col("n")
                / (F.col("ca").cast("double") * F.col("cc"))
            )
            .cast("long")
            .alias("lift_e6"),
        )
    )
    return (
        out.orderBy(F.col("lift_e6").desc(), "ante", "cons")
        .limit(100)
        .select(
            F.col("ante").cast("long").alias("antecedent"),
            F.col("cons").cast("long").alias("consequent"),
            "support",
            F.round(F.col("conf_e6") / 1e6, 6).alias("confidence"),
            F.round(F.col("lift_e6") / 1e6, 6).alias("lift"),
        )
    )


_HITS_ITERS = 4


def _hits_sql(iters: int) -> str:
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # normalization reads its raw-score CTE twice (once for MAX), so an
    # inlined chain replays the base join 2^(2*iters) times
    parts = [
        """edges AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    h0 AS MATERIALIZED (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM edges)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    a{i}_raw AS MATERIALIZED (
        SELECT e.s, CAST(SUM(h.h) AS BIGINT) AS a_raw
        FROM edges e JOIN h{i - 1} h ON h.c = e.c GROUP BY e.s
    ),
    a{i} AS MATERIALIZED (
        SELECT s, CAST((a_raw * 1000000)
                       // (SELECT MAX(a_raw) FROM a{i}_raw) AS BIGINT) AS a
        FROM a{i}_raw
    ),
    h{i}_raw AS MATERIALIZED (
        SELECT e.c, CAST(SUM(a.a) AS BIGINT) AS h_raw
        FROM edges e JOIN a{i} a ON a.s = e.s GROUP BY e.c
    ),
    h{i} AS MATERIALIZED (
        SELECT c, CAST((h_raw * 1000000)
                       // (SELECT MAX(h_raw) FROM h{i}_raw) AS BIGINT) AS h
        FROM h{i}_raw
    )""")
    return (
        "WITH " + ",".join(parts) + f"""
    , top_a AS (
        SELECT 'authority' AS side, s AS key, a AS score_micro,
               row_number() OVER (ORDER BY a DESC, s) AS rk
        FROM a{iters}
    ),
    top_h AS (
        SELECT 'hub' AS side, c AS key, h AS score_micro,
               row_number() OVER (ORDER BY h DESC, c) AS rk
        FROM h{iters}
    )
    SELECT side, CAST(key AS BIGINT) AS key, score_micro,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT * FROM top_a WHERE rk <= 15
          UNION ALL SELECT * FROM top_h WHERE rk <= 15)
    ORDER BY side, rk
    """
    )


@register(
    "graph_hits_hubs_authorities",
    oracle=_hits_sql(_HITS_ITERS),
    tags=("graph", "iterative", "scale"),
    doc=(
        f"HITS (Kleinberg 1999), {_HITS_ITERS} mutual-reinforcement "
        "rounds over the directed customer->supplier purchase graph: "
        "authority(s) = sum of hub scores of buyers, hub(c) = sum of "
        "authority scores bought from, max-normalized each half-round "
        "to integer micro-units with integer division (the PageRank "
        "exactness discipline — no float summation-order drift, every "
        "round replayable).  Per half-round: one edge-keyed join + one "
        "destination agg; the 1-row max broadcasts.  Top-15 hubs and "
        "authorities with deterministic tie-break.  Complements "
        "graph_pagerank_bipartite: PageRank ranks by random-walk mass, "
        "HITS separates 'big buyers' from 'popular suppliers'."
    ),
)
def graph_hits_hubs_authorities(spark, sf_dir):
    edges = purchases(spark, sf_dir)
    h = edges.select("c").distinct().select(
        "c", F.lit(1000000).cast("long").alias("h")
    )
    a = None
    for _ in range(_HITS_ITERS):
        a_raw = (
            edges.join(h, "c")
            .groupBy("s")
            .agg(F.sum("h").cast("long").alias("a_raw"))
        )
        # ONE checkpoint per half-round, on the raw shuffle agg: the
        # max-agg consumes the raw scores a second time, so an unbroken
        # lineage doubles per half-round (2^8 replays by round 4).  The
        # normalized projection stays LAZY — it is a broadcast of a
        # 1-row max plus a narrow map over the checkpointed scores
        # (~|nodes| rows), so its consumers replay only that, and the
        # action count drops from 4 to 2 materializations per round
        # (r12: 12.9 -> ~6.5 s at sf0.1, scheduling cost not row work).
        a_raw = materialize(a_raw, "graph_hits_hubs_authorities authorities: max and normalization")
        amax = a_raw.agg(F.max("a_raw").alias("amax"))
        a = a_raw.crossJoin(F.broadcast(amax)).select(
            "s", F.expr("CAST((a_raw * 1000000) DIV amax AS BIGINT)").alias("a")
        )
        h_raw = materialize(
            edges.join(a, "s")
            .groupBy("c")
            .agg(F.sum("a").cast("long").alias("h_raw")),
            "graph_hits_hubs_authorities hubs: max and normalization",
        )
        hmax = h_raw.agg(F.max("h_raw").alias("hmax"))
        h = h_raw.crossJoin(F.broadcast(hmax)).select(
            "c", F.expr("CAST((h_raw * 1000000) DIV hmax AS BIGINT)").alias("h")
        )
    top_a = a.select(
        F.lit("authority").alias("side"),
        F.col("s").cast("long").alias("key"),
        F.col("a").alias("score_micro"),
        F.row_number().over(W.orderBy(F.desc("a"), F.asc("s"))).alias("rk"),
    ).where(F.col("rk") <= 15)
    top_h = h.select(
        F.lit("hub").alias("side"),
        F.col("c").cast("long").alias("key"),
        F.col("h").alias("score_micro"),
        F.row_number().over(W.orderBy(F.desc("h"), F.asc("c"))).alias("rk"),
    ).where(F.col("rk") <= 15)
    return (
        top_a.unionByName(top_h)
        .select("side", "key", "score_micro", F.col("rk").cast("long").alias("rk"))
        .orderBy("side", "rk")
    )


from ..operators.zorder import hilbert_key_sql as _hilbert_key_sql

@register(
    "hilbert_key_events",
    oracle=f"""
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST({_hilbert_key_sql("user_id", "CAST(round(value * 100) AS BIGINT)", 16)} AS BIGINT) AS hkey
    FROM events ORDER BY event_id
    """,
    tags=("scale", "layout", "zorder"),
    doc=(
        "Hilbert-curve clustering key over (user_id, value-cents) — "
        "the strictly-better-locality successor to zorder_key_events "
        "(consecutive keys are always grid neighbors; the Delta liquid-"
        "clustering layout key).  xy2d computed as a bounded 16-level "
        "quadrant-rotation fold (F.aggregate / list_reduce, [x,y,d] "
        "list state, pure integer ops) — a scan-side projection, no "
        "shuffle, bit-identical on both engines; verified bijective "
        "against the reference walk in tests."
    ),
)
def hilbert_key_events(spark, sf_dir):
    from ..operators.zorder import hilbert_key

    e = table(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        hilbert_key(
            F.col("user_id"),
            F.round(F.col("value") * 100).cast("long"),
            bits=16,
        )
        .cast("long")
        .alias("hkey"),
    ).orderBy("event_id")


def _modularity_oracle() -> str:
    layers_sql, prev = _lpa_layers()
    return f"""
    WITH {STABLE_CO_SQL},
    l0 AS MATERIALIZED (SELECT DISTINCT w, w AS label FROM adj),
    {layers_sql},
    {DEG_SQL},
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM co),
    ein AS (
        SELECT lu.label AS community, CAST(COUNT(*) AS BIGINT) AS e_in
        FROM co
        JOIN {prev} lu ON co.u = lu.w
        JOIN {prev} lv ON co.v = lv.w
        WHERE lu.label = lv.label
        GROUP BY 1
    ),
    dc AS (
        SELECT p.label AS community, CAST(SUM(deg.d) AS BIGINT) AS d_tot,
               CAST(COUNT(*) AS BIGINT) AS size
        FROM {prev} p JOIN deg ON p.w = deg.w
        GROUP BY 1
    )
    SELECT CAST(dc.community AS BIGINT) AS community, dc.size,
           CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in, dc.d_tot,
           round(CAST(COALESCE(ein.e_in, 0) AS DOUBLE) / mm.m
                 - (CAST(dc.d_tot AS DOUBLE) / (2.0 * mm.m))
                   * (CAST(dc.d_tot AS DOUBLE) / (2.0 * mm.m)), 6) + 0.0
             AS q_contrib
    FROM dc LEFT JOIN ein ON dc.community = ein.community
    CROSS JOIN mm
    WHERE dc.size >= 2
    ORDER BY community
    """


@register(
    "graph_modularity_lpa",
    oracle=_modularity_oracle(),
    tags=("graph", "scale", "iterative"),
    doc=(
        "Newman-Girvan modularity decomposition of the "
        "graph_label_propagation communities: per community, Q_c = "
        "e_in/m - (d_c/2m)^2 — the quality score that says whether LPA "
        "found real density or noise (sum over ALL communities is the "
        "global Q; the >= 2-member rows reported here carry the "
        "structure).  Reuses the same {r}-round synchronous LPA loop "
        "(shared _lpa_labels helper, so engine and oracle replay "
        "identical label tables), then THREE hash aggs on graph grain: "
        "within-community edges via two label joins on the u < v edge "
        "list, community degree mass, one edge count — no new corpus "
        "scan, everything downstream of the checkpointed adjacency.  "
        "All masses are exact BIGINTs; the Q terms divide once in "
        "double, identically to the oracle (Newman 2004)."
    ).format(r=_LPA_ROUNDS),
)
def graph_modularity_lpa(spark, sf_dir):
    co, adj, labels = _lpa_labels(spark, sf_dir)
    labels = materialize(labels, "graph_modularity_lpa labels: three aggregates")
    deg = degrees(adj)
    m = co.agg(F.count(F.lit(1)).cast("long").alias("m"))
    lu = labels.select(F.col("w").alias("u"), F.col("label").alias("lab_u"))
    lv = labels.select(F.col("w").alias("v"), F.col("label").alias("lab_v"))
    ein = (
        co.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lab_u") == F.col("lab_v"))
        .groupBy(F.col("lab_u").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    dc = (
        labels.join(deg, "w")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.sum("d").cast("long").alias("d_tot"),
            F.count(F.lit(1)).cast("long").alias("size"),
        )
    )
    half = F.col("d_tot").cast("double") / (2.0 * F.col("m"))
    return (
        dc.join(ein, "community", "left")
        .crossJoin(F.broadcast(m))
        .filter(F.col("size") >= 2)
        .select(
            F.col("community").cast("long").alias("community"),
            "size",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("e_in"),
            "d_tot",
            (
                F.round(
                    F.coalesce(F.col("e_in"), F.lit(0)).cast("double")
                    / F.col("m")
                    - half * half,
                    6,
                )
                + F.lit(0.0)  # -0.0 -> +0.0 (IEEE), identity elsewhere
            ).alias("q_contrib"),
        )
        .orderBy("community")
    )

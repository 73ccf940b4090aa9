"""Reference-parity operators (SURVEY §2 inventory, build plan M2).

Each query reconstructs a reference operator's exact semantics on
deterministic synthetic inputs derived from the fixture tables, so the
DuckDB oracle can verify behavior cell-by-cell:

  ref_number_cast_dirty      C2  letters/% -> '0', unparseable -> 0   (Form700.py:261-273)
  ref_text_clean_newlines    C3+C7 null->'' + newline strip           (Form700.py:274-279,296-298)
  ref_checkbox_cast          C4  null -> False                        (Form700.py:280-284)
  ref_date_cast              C5  yyyyMMdd -> DATE (engine mode)       (Form700.py:285-288)
  ref_snake_case_rename      C9  camelCase -> snake_case              (Form700.py:464-468)
  ref_schema_projection      P1  schema-ordered projection            (Form700.py:253)
  ref_stringify_structs      N2  array<struct> -> "k:v,k:v|..."       (Form700.py:306-323)
  ref_explode_outer_tokens   E1  explode keeps empty-array parents    (Form700.py:354-383)
  ref_explode_prefix_rename  E1+E2 explode + prefixed child columns   (Form700.py:356-362)
  ref_enrichment_join        J1  broadcast left enrichment join       (Form700.py:346-352)
  ref_union_pages            A4  page-slice UNION ALL                 (Form700.py:140-142)
  ref_count_audit            A1/A3 row-count reconciliation           (Form700.py:473-474,611-618)
  ref_group_counts           A5  per-parent child counts              (form700_cover_schema.csv:42-48)
  ref_fillna_multitype       C8  per-dtype null fills                 (Form700.py:269-283,470)
  ref_chunking_audit         K1  fixed-size chunk assignment          (Form700.py:505-506)
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.cleaning import (
    checkbox_cast,
    number_cast,
    quote,
    schema_projection,
    snake_case,
    strip_newlines,
    text_cast,
)
from ..functions.money import cents, cents_sql
from ..functions.nested import explode_outer_flat, schema_columns, stringify_structs
from ..io import table
from ..registry import register

# Dirty-value construction shared by Spark and DuckDB (one CASE text;
# Spark SQL spells the string type STRING).
_DIRTY_SQL = """
    CASE CAST(p_partkey % 5 AS INT)
        WHEN 0 THEN concat(p_brand, '-', CAST(p_size AS VARCHAR))
        WHEN 1 THEN CAST(p_size AS VARCHAR)
        WHEN 2 THEN NULL
        WHEN 3 THEN concat(CAST(p_size AS VARCHAR), '%')
        ELSE concat('x', CAST(p_size AS VARCHAR), 'y')
    END
"""
_DIRTY_SPARK = _DIRTY_SQL.replace("VARCHAR", "STRING")


@register(
    "ref_number_cast_dirty",
    oracle=f"""
    SELECT p_partkey,
           {_DIRTY_SQL} AS raw_value,
           COALESCE(TRY_CAST(regexp_replace(CAST({_DIRTY_SQL} AS VARCHAR), '[a-zA-Z%]', '0', 'g') AS DOUBLE), 0.0)
             AS number_value
    FROM part
    """,
    tags=("refparity", "cleaning"),
    doc="C2 number cast: letters/% become '0' chars, unparseable/NULL -> 0.0.",
)
def ref_number_cast_dirty(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        f"{_DIRTY_SPARK} AS raw_value",
        f"{number_cast(_DIRTY_SPARK)} AS number_value",
    )


@register(
    "ref_text_clean_newlines",
    oracle="""
    SELECT c_custkey,
           regexp_replace(
               COALESCE(CASE WHEN c_custkey % 7 = 0 THEN NULL
                             ELSE concat(c_name, chr(10), c_mktsegment) END, ''),
               chr(10), '', 'g') AS cleaned
    FROM customer
    """,
    tags=("refparity", "cleaning"),
    doc="C3 text cast (null->'') composed with C7 newline strip.",
)
def ref_text_clean_newlines(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    raw = (
        "CASE WHEN c_custkey % 7 = 0 THEN CAST(NULL AS STRING)"
        " ELSE concat(c_name, '\\n', c_mktsegment) END"
    )
    return c.selectExpr("c_custkey", f"{strip_newlines(text_cast(raw))} AS cleaned")


@register(
    "ref_checkbox_cast",
    oracle="""
    SELECT c_custkey,
           COALESCE(CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal > 0 END, FALSE)
             AS is_positive
    FROM customer
    """,
    tags=("refparity", "cleaning"),
    doc="C4 checkbox cast: NULL -> False.",
)
def ref_checkbox_cast(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    raw = "CASE WHEN c_custkey % 3 = 0 THEN CAST(NULL AS BOOLEAN) ELSE c_acctbal > 0 END"
    return c.selectExpr("c_custkey", f"{checkbox_cast(raw)} AS is_positive")


@register(
    "ref_date_cast",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y%m%d') AS raw_date,
           strftime(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d'), '%Y-%m-%d') AS parsed_date
    FROM orders
    """,
    tags=("refparity", "cleaning"),
    doc="C5 date cast, engine mode: yyyyMMdd text -> DATE (reference leaves text).",
)
def ref_date_cast(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    raw = F.date_format("o_orderdate", "yyyyMMdd")
    return o.select(
        "o_orderkey",
        raw.alias("raw_date"),
        # formatted back to string: engines disagree on DATE wire repr
        # (DuckDB->pandas widens DATE to datetime64) — string is stable
        F.date_format(F.to_date(raw, "yyyyMMdd"), "yyyy-MM-dd").alias("parsed_date"),
    )


_SNAKE_SOURCE_COLS = ["filingId", "filerName", "departmentName", "periodStart.date"]


@register(
    "ref_snake_case_rename",
    oracle="""
    SELECT c_custkey AS filing_id,
           c_name AS filer_name,
           c_mktsegment AS department_name,
           strftime(DATE '1995-01-01', '%Y-%m-%d') AS period_startdate
    FROM customer
    """,
    tags=("refparity", "cleaning"),
    doc="C9 snake_case rename: dots dropped, camelCase underscored (inflection algorithm).",
)
def ref_snake_case_rename(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    src = c.select(
        F.col("c_custkey").alias("filingId"),
        F.col("c_name").alias("filerName"),
        F.col("c_mktsegment").alias("departmentName"),
        F.lit("1995-01-01").alias("periodStart.date"),
    )
    return src.toDF(*(snake_case(col) for col in _SNAKE_SOURCE_COLS))


@register(
    "ref_schema_projection",
    oracle="SELECT c_name, c_custkey, c_mktsegment FROM customer",
    tags=("refparity", "projection"),
    doc="P1: select exactly the declared schema columns, in schema order.",
)
def ref_schema_projection(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    sources = {n: quote(n) for n in c.columns}
    return c.selectExpr(*schema_projection(sources, ["c_name", "c_custkey", "c_mktsegment"]))


@register(
    "ref_stringify_structs",
    oracle="""
    SELECT o_custkey,
           array_to_string(
               list_transform(
                   list_sort(list(struct_pack(id := o_orderkey, status := o_orderstatus))),
                   s -> concat('id:', CAST(s.id AS VARCHAR), ',', 'status:', CAST(s.status AS VARCHAR))
               ), '|') AS orders_str
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("refparity", "nested"),
    doc="N2: array<struct> -> 'k:v,k:v|k:v,...' via higher-order functions (no UDF).",
)
def ref_stringify_structs(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    arr = "sort_array(collect_list(named_struct('id', o_orderkey, 'status', o_orderstatus)))"
    return o.groupBy("o_custkey").agg(
        F.expr(f"{stringify_structs(arr, ['id', 'status'])} AS orders_str")
    )


@register(
    "ref_explode_outer_tokens",
    oracle="""
    WITH arr AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 10 = 0 THEN CAST([] AS VARCHAR[])
                    ELSE string_split(p_type, ' ') END AS tokens
        FROM part
    )
    SELECT p_partkey, unnest(CASE WHEN len(tokens) = 0 THEN [NULL] ELSE tokens END) AS token
    FROM arr
    """,
    tags=("refparity", "nested"),
    doc="E1 explode_outer: empty-array parents keep one NULL-child row (reference left merge).",
)
def ref_explode_outer_tokens(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    tokens = F.when(
        F.col("p_partkey") % 10 == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.col("p_type"), " "))
    return p.select("p_partkey", tokens.alias("tokens")).select(
        "p_partkey", F.explode_outer("tokens").alias("token")
    )


@register(
    "ref_explode_prefix_rename",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           l.l_linenumber AS itemLinenumber,
           CAST(l.l_quantity AS BIGINT) AS itemQuantity
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
    tags=("refparity", "nested"),
    doc=(
        "E1+E2 round-trip: nest lineitems under their order as array<struct>, "
        "explode_outer back out with prefixed child names (renameRealPropertyCols)."
    ),
)
def ref_explode_prefix_rename(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    nested = (
        l.groupBy(F.col("l_orderkey"))
        .agg(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("linenumber"),
                    F.col("l_quantity").cast("long").alias("quantity"),
                )
            ).alias("items")
        )
    )
    parent = o.join(nested, o.o_orderkey == nested.l_orderkey, "left").select(
        "o_orderkey", "o_orderstatus", "items"
    )
    flat, cols = explode_outer_flat(
        parent, schema_columns(parent.schema), "items", prefix="item"
    )
    keep = ("o_orderkey", "o_orderstatus", "itemLinenumber", "itemQuantity")
    return flat.selectExpr(*(f"{cols[n][0]} AS {n}" for n in keep))


@register(
    "ref_enrichment_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           o.o_custkey, o.o_orderpriority,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    tags=("refparity", "join"),
    doc=(
        "J1: left enrichment join — attach parent (cover) columns to every "
        "child row.  The parent side carries no broadcast hint (orders "
        "scales with SF): Catalyst's auto-broadcast threshold and AQE "
        "pick the join."
    ),
)
def ref_enrichment_join(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    return l.join(o, l.l_orderkey == o.o_orderkey, "left").select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )


@register(
    "ref_union_pages",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({cents_sql('o_totalprice')}) AS BIGINT) / 100.0 AS checksum_total
    FROM (
        SELECT * FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL SELECT * FROM orders WHERE o_orderkey % 3 = 1
        UNION ALL SELECT * FROM orders WHERE o_orderkey % 3 = 2
    ) pages
    """,
    tags=("refparity", "setop"),
    doc="A4: page-sliced extraction reassembled with UNION ALL, audited by count+checksum.",
)
def ref_union_pages(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    pages = [o.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    out = pages[0]
    for pg in pages[1:]:
        out = out.unionByName(pg)
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("checksum_total"),
    )


@register(
    "ref_count_audit",
    oracle="""
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_customer,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_lineitem,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier) AS n_supplier
    """,
    tags=("refparity", "agg"),
    doc="A1/A3: per-table row-count audit in one row (the reference's SUCCESS check).",
)
def ref_count_audit(spark, sf_dir):
    counts = [
        table(spark, sf_dir, name).agg(F.count(F.lit(1)).alias(f"n_{name}"))
        for name in ("customer", "orders", "lineitem", "supplier")
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out


@register(
    "ref_group_counts",
    oracle="""
    SELECT c.c_custkey AS filer_id,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS schedule_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
    tags=("refparity", "agg"),
    doc="A5: derive the per-parent child counts the reference trusts its API for.",
)
def ref_group_counts(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(F.col("c_custkey").alias("filer_id"))
        .agg(F.count("o_orderkey").alias("schedule_count"))
    )


@register(
    "ref_fillna_multitype",
    oracle="""
    SELECT c_custkey,
           COALESCE(CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_name END, '') AS name_filled,
           COALESCE(CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE CAST(c_nationkey AS BIGINT) END, 0) AS nation_filled,
           COALESCE(CASE WHEN c_custkey % 6 = 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal_filled
    FROM customer
    """,
    tags=("refparity", "cleaning"),
    doc="C8: per-dtype null fills ('' / 0 / 0.0) done as one na.fill pass.",
)
def ref_fillna_multitype(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    withnulls = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 4 == 0, None).otherwise(F.col("c_name")).alias("name_filled"),
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_nationkey").cast("long"))
        .alias("nation_filled"),
        F.when(F.col("c_custkey") % 6 == 0, None).otherwise(F.col("c_acctbal")).alias("bal_filled"),
    )
    return withnulls.na.fill({"name_filled": "", "nation_filled": 0, "bal_filled": 0.0})


# ---- Form700 pipeline parity (EP1, all datasets config-driven) ------------
#
# Shared oracle fragments.  The filer block is J1's 8-column projection
# (Form700.py:347-348) post-clean: text casts coalesce to '', dates flow
# through as yyyyMMdd strings (compat mode), offices is the N2 stringify
# of the cover's offices array.  `||` (not concat) everywhere a nullable
# lineitem column participates — DuckDB's concat() IGNORES NULLs, while
# the Spark side's struct fields are plain NULL for itemless filings.

_FILER_SQL = """
           COALESCE(c.c_name, '') AS filer_name,
           COALESCE(c.c_mktsegment, '') AS department_name,
           concat('Pos-', o.o_orderstatus) AS position_name,
           concat('office:Office-', o.o_orderpriority, ',position:', o.o_orderstatus)
             AS offices,
           strftime(date_trunc('year', o.o_orderdate), '%Y%m%d') AS period_start,
           strftime(date_trunc('year', o.o_orderdate) + INTERVAL 1 YEAR - INTERVAL 1 DAY,
                    '%Y%m%d') AS period_end,
           strftime(o.o_orderdate, '%Y%m%d') AS filing_date
"""

_QTY_S = "CAST(CAST(l.l_quantity AS BIGINT) AS VARCHAR)"


def _numcast_sql(expr: str) -> str:
    """C2 oracle mirror: letters/% -> '0', unparseable/NULL -> 0.0."""
    return (
        f"COALESCE(TRY_CAST(regexp_replace({expr}, '[a-zA-Z%]', '0', 'g')"
        " AS DOUBLE), 0.0)"
    )


@register(
    "ref_pipeline_cover",
    oracle=f"""
    SELECT concat('AGY-', o.o_orderpriority) AS agency,
           concat('Agency ', o.o_orderpriority) AS agency_name,
           substr(o.o_orderpriority, 1, 1) AS agency_prefix,
           strftime(date_trunc('year', o.o_orderdate), '%Y%m%d') AS annual_start_date,
           CASE WHEN o.o_orderkey % 11 = 0 THEN strftime(o.o_orderdate, '%Y')
                ELSE '' END AS candidate_election_year,
           CASE WHEN o.o_orderkey % 11 = 0 THEN concat('Office-', o.o_orderstatus)
                ELSE '' END AS candidate_office_sought,
           'ethics' AS categories,
           CASE WHEN o.o_orderkey % 7 = 0 THEN strftime(o.o_orderdate, '%Y%m%d')
                ELSE '' END AS date_assumed_office,
           CASE WHEN o.o_orderkey % 17 = 0 THEN strftime(o.o_orderdate, '%Y%m%d')
                ELSE '' END AS date_left_office,
           CASE WHEN o.o_orderkey % 3 = 0 THEN 'City description'
                ELSE '' END AS description_city,
           CASE WHEN o.o_orderkey % 5 = 0 THEN 'County description'
                ELSE '' END AS description_county,
           CASE WHEN o.o_orderkey % 19 = 0 THEN 'Multi-county description'
                ELSE '' END AS description_multi_county,
           CASE WHEN o.o_orderkey % 23 = 0 THEN 'Other description'
                ELSE '' END AS description_other,
           CAST(o.o_custkey AS VARCHAR) AS filer_id,
           CAST(o.o_orderkey AS VARCHAR) AS filing_id,
           concat('First-', CAST(o.o_custkey AS VARCHAR)) AS first_name,
           concat('Last-', CAST(o.o_custkey AS VARCHAR)) AS last_name,
           CASE WHEN o.o_orderkey % 2 = 0 THEN 'M' ELSE '' END AS middle_name,
           '700' AS form,
           CAST(o.o_orderkey AS VARCHAR) AS id,
           concat('INT-', CAST(o.o_orderkey AS VARCHAR)) AS internal_id,
           o.o_orderstatus = 'F' AS is_annual,
           o.o_orderkey % 7 = 0 AS is_assuming,
           o.o_orderkey % 11 = 0 AS is_candidate,
           1.0 AS comment_count,
           o.o_orderkey % 3 = 0 AS is_city,
           o.o_orderkey % 5 = 0 AS is_county,
           o.o_orderkey % 13 = 0 AS is_judge_or_court,
           o.o_orderkey % 17 = 0 AS is_leaving,
           o.o_orderkey % 19 = 0 AS is_multi_county,
           o.o_orderkey % 23 = 0 AS is_other,
           o.o_orderkey % 29 = 0 AS is_state,
           CASE WHEN o.o_orderkey % 17 = 0
                THEN strftime(date_trunc('year', o.o_orderdate), '%Y%m%d')
                ELSE '' END AS leaving_statement_start_date,
           COALESCE(CAST(k.a1n AS DOUBLE), 0.0) AS schedule_a1_count,
           COALESCE(CAST(k.a2n AS DOUBLE), 0.0) AS schedule_a2_count,
           COALESCE(CAST(k.bn AS DOUBLE), 0.0) AS schedule_b_count,
           COALESCE(CAST(k.cn AS DOUBLE), 0.0) AS schedule_c1_count,
           0.0 AS schedule_c2_count,
           COALESCE(CAST(k.dn AS DOUBLE), 0.0) AS schedule_d_count,
           COALESCE(CAST(k.en AS DOUBLE), 0.0) AS schedule_e_count,
           o.o_orderstatus AS transaction_type,
           strftime(o.o_orderdate, '%Y') AS year,
           {_FILER_SQL}
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN (
        SELECT l_orderkey,
               COUNT(*) AS a1n,
               COUNT(CASE WHEN l_linenumber % 2 = 0 THEN 1 END) AS a2n,
               COUNT(CASE WHEN l_linenumber % 3 = 1 THEN 1 END) AS bn,
               COUNT(CASE WHEN l_linenumber % 3 = 2 THEN 1 END) AS cn,
               COUNT(CASE WHEN l_linenumber % 4 = 1 THEN 1 END) AS dn,
               COUNT(CASE WHEN l_linenumber % 5 = 2 THEN 1 END) AS en
        FROM lineitem GROUP BY l_orderkey
    ) k ON k.l_orderkey = o.o_orderkey
    """,
    tags=("refparity", "pipeline"),
    doc=(
        "EP1 cover table over the FULL reference column inventory (49 "
        "fields, /root/reference/form700_schemas/form700_cover_schema.csv): "
        "N2 offices stringify + P1/C1 clean, registry-routed (N3).  The "
        "schedule*Count audit columns are sizes of the synthesized nested "
        "arrays, so count-vs-payload consistency (A5) is checked for free."
    ),
)
def ref_pipeline_cover(spark, sf_dir):
    from ..plans.form700 import pipeline_dataset

    return pipeline_dataset(spark, sf_dir, "cover")


# The scheduleA1 full-recompute flat SQL — shared by the end-to-end
# pipeline check and the incremental-pipeline check (whose law is
# "incremental merge == full recompute").
_A1_PIPELINE_SQL = f"""
    SELECT CAST(o.o_orderkey AS VARCHAR) AS filing_id,
           CAST(o.o_custkey AS VARCHAR) AS filer_id,
           COALESCE(CAST(l.l_linenumber AS VARCHAR), '') AS id,
           COALESCE('Desc-' || l.l_returnflag, '') AS business_description,
           COALESCE(strftime(l.l_shipdate, '%Y%m%d'), '') AS date_acquired,
           COALESCE(CASE WHEN l.l_returnflag = 'R'
                         THEN strftime(l.l_shipdate + INTERVAL 30 DAY, '%Y%m%d')
                    END, '') AS date_disposed,
           {_numcast_sql(
               _QTY_S
               + " || (CASE WHEN l.l_linenumber % 3 = 0 THEN 'k' ELSE '' END)"
               + " || (CASE WHEN l.l_returnflag = 'R' THEN '%' ELSE '' END)"
           )} AS fair_market_value,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN '100001-1000000'
                         ELSE '10001-100000' END, '') AS fair_market_value_as_range,
           COALESCE('Ent-' || l.l_linestatus, '') AS name_of_business_entity,
           COALESCE(l.l_returnflag, '') AS nature_of_investment,
           COALESCE(CASE WHEN l.l_returnflag = 'N' THEN 'Other investment' END, '')
             AS nature_of_investment_other_description,
           COALESCE(CAST(CAST(l.l_quantity AS BIGINT) * 7 AS DOUBLE), 0.0)
             AS partnership_amount,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 35 THEN '10001-100000'
                         ELSE '1001-10000' END, '') AS partnership_amount_as_range,
           COALESCE(l.l_linestatus, '') AS transaction_type,
           {_FILER_SQL}
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""


@register(
    "ref_pipeline_end_to_end",
    oracle=_A1_PIPELINE_SQL,
    tags=("refparity", "pipeline"),
    doc=(
        "EP1 end to end (scheduleA1): nested filings -> S5 per-key explode "
        "-> J1 broadcast filer join -> N3 registry routing (offices "
        "stringify) -> P1 projection -> C7 strip -> C1/C2/C3 casts -> C9 "
        "snake_case.  One Catalyst plan; the oracle is the equivalent flat SQL."
    ),
)
def ref_pipeline_end_to_end(spark, sf_dir):
    from ..plans.form700 import pipeline_dataset

    return pipeline_dataset(spark, sf_dir, "scheduleA1")


@register(
    "ref_pipeline_scheduleA2",
    oracle=f"""
    SELECT CAST(o.o_orderkey AS VARCHAR) AS filing_id,
           CAST(o.o_custkey AS VARCHAR) AS filer_id,
           COALESCE(CAST(l.l_linenumber AS VARCHAR), '') AS id,
           COALESCE(CAST(l.l_orderkey AS VARCHAR) || ' Commerce Way', '') AS address,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN l.l_partkey % 2 = 0 THEN 'Owner'
                         ELSE 'Partner' END, '') AS business_position,
           COALESCE('Type-' || l.l_returnflag, '') AS business_type,
           COALESCE(l.l_linestatus, '') AS city,
           COALESCE(strftime(l.l_shipdate, '%Y%m%d'), '') AS date_acquired,
           COALESCE(CASE WHEN l.l_returnflag = 'R'
                         THEN strftime(l.l_shipdate + INTERVAL 30 DAY, '%Y%m%d')
                    END, '') AS date_disposed,
           COALESCE('Desc ' || {_QTY_S}, '') AS description,
           COALESCE('Biz-' || l.l_linestatus, '') AS entity_name,
           {_numcast_sql(
               _QTY_S + " || (CASE WHEN l.l_returnflag = 'A' THEN '%' ELSE '' END)"
           )} AS fair_market_value_schedule_a2,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN '100001-1000000'
                         ELSE '10001-100000' END, '')
             AS fair_market_value_schedule_a2_as_range,
           COALESCE(CAST(CAST(l.l_quantity AS BIGINT) * 10 AS DOUBLE), 0.0)
             AS gross_income_received,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 25 THEN '10001-100000'
                         ELSE '1001-10000' END, '')
             AS gross_income_received_as_range,
           COALESCE(CASE WHEN l.l_returnflag = 'R'
               THEN 'source:' || l.l_linestatus || ',amount:' || {_QTY_S}
                    || '|source:ROYALTY,amount:'
                    || CAST(CAST(l.l_quantity AS BIGINT) * 2 AS VARCHAR)
               ELSE 'source:' || l.l_linestatus || ',amount:' || {_QTY_S}
           END, '') AS income_sources,
           COALESCE(l.l_returnflag, '') AS nature_of_investment,
           COALESCE(CASE WHEN l.l_returnflag = 'N' THEN 'Other investment' END, '')
             AS nature_of_investment_other_description,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'CA' END AS state,
           COALESCE(l.l_linestatus, '') AS transaction_type,
           COALESCE('9410' || CAST(l.l_linenumber AS VARCHAR), '') AS zip,
           COALESCE(CASE WHEN rp.i IS NOT NULL
                         THEN 'RP-Biz-' || l.l_linestatus END, '')
             AS real_property_business_name,
           COALESCE(CASE WHEN rp.i IS NOT NULL
                         THEN strftime(l.l_shipdate, '%Y%m%d') END, '')
             AS real_property_date_acquired,
           COALESCE(CASE WHEN rp.i = 2
                         THEN strftime(l.l_shipdate + INTERVAL 60 DAY, '%Y%m%d')
                    END, '') AS real_property_date_disposed,
           COALESCE(CASE WHEN rp.i IS NOT NULL THEN l.l_linestatus END, '')
             AS real_property_description_or_city_or_location,
           COALESCE(CAST(CAST(l.l_quantity AS BIGINT) * 1000 + rp.i AS DOUBLE), 0.0)
             AS real_property_fair_market_value,
           COALESCE(CASE WHEN rp.i IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN '1000001-2000000'
                         ELSE '100001-1000000' END, '')
             AS real_property_fair_market_value_as_range,
           COALESCE(CASE WHEN rp.i = 1 THEN 'SOLE'
                         WHEN rp.i = 2 THEN 'PARTNERSHIP' END, '')
             AS real_property_investment_type,
           COALESCE(CASE WHEN rp.i IS NOT NULL
                         THEN 'Ownership/Deed of Trust' END, '')
             AS real_property_nature_of_interest,
           COALESCE(CASE WHEN rp.i IS NOT NULL
                          AND CAST(l.l_quantity AS BIGINT) > 45
                         THEN {_QTY_S} END, '')
             AS real_property_nature_of_interest_lease_years_remaining,
           '' AS real_property_nature_of_interest_other_description,
           COALESCE('P-' || CAST(o.o_orderkey AS VARCHAR) || '-'
                    || CAST(l.l_linenumber AS VARCHAR) || '-'
                    || CAST(rp.i AS VARCHAR), '') AS real_property_parcel_address,
           {_FILER_SQL}
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 2 = 0) l
           ON l.l_orderkey = o.o_orderkey
    LEFT JOIN (VALUES (1), (2)) rp(i)
           ON rp.i <= (CASE WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN 2
                            WHEN l.l_partkey % 2 = 0 THEN 1 ELSE 0 END)
    """,
    tags=("refparity", "pipeline"),
    doc=(
        "EP1 scheduleA2 over the FULL reference inventory (39 fields incl. "
        "all 11 realProperty* children, form700_scheduleA2_schema.csv): "
        "offices + incomeSources stringify (N2) AND realProperties explode "
        "with the E2 realProperty prefix rename, incl. the empty-array -> "
        "one NULL-child-row explode_outer case."
    ),
)
def ref_pipeline_scheduleA2(spark, sf_dir):
    from ..plans.form700 import pipeline_dataset

    return pipeline_dataset(spark, sf_dir, "scheduleA2")


@register(
    "ref_pipeline_scheduleB",
    oracle=f"""
    SELECT CAST(o.o_orderkey AS VARCHAR) AS filing_id,
           CAST(o.o_custkey AS VARCHAR) AS filer_id,
           COALESCE(CAST(l.l_linenumber AS VARCHAR), '') AS id,
           COALESCE(l.l_linestatus, '') AS city,
           COALESCE(strftime(l.l_shipdate, '%Y%m%d'), '') AS date_acquired,
           COALESCE(CASE WHEN l.l_returnflag = 'R'
                         THEN strftime(l.l_shipdate + INTERVAL 30 DAY, '%Y%m%d')
                    END, '') AS date_disposed,
           {_numcast_sql(
               _QTY_S + " || (CASE WHEN l.l_returnflag = 'A' THEN '%' ELSE '' END)"
           )} AS fair_market_value_schedule_b,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN '100001-1000000'
                         ELSE '10001-100000' END, '')
             AS fair_market_value_schedule_b_as_range,
           {_numcast_sql(
               _QTY_S + " || (CASE WHEN l.l_partkey % 3 = 0 THEN 'k' ELSE '' END)"
           )} AS gross_income_received,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 25 THEN '10001-100000'
                         ELSE '1001-10000' END, '') AS gross_income_received_as_range,
           COALESCE('Lender Plaza ' || CAST(l.l_linenumber AS VARCHAR), '')
             AS loanaddress,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'Lending' END
             AS loanbusiness_activity,
           COALESCE(l.l_linestatus, '') AS loancity,
           COALESCE(CASE WHEN l.l_partkey % 2 = 0
                         THEN 'Guarantor-' || l.l_returnflag END, '') AS loanguarantor,
           COALESCE(CAST(CAST(l.l_quantity AS BIGINT) * 100 AS DOUBLE), 0.0)
             AS loanhighest_balance,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN '100001-1000000'
                         ELSE '10001-100000' END, '') AS loanhighest_balance_as_range,
           {_numcast_sql(_QTY_S + " || '%'")} AS loaninterest_rate,
           COALESCE('Bank-' || l.l_returnflag, '') AS loanname_of_lender,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'CA' END AS loanstate,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN '30 years'
                         ELSE '15 years' END, '') AS loanterm,
           COALESCE('9410' || CAST(l.l_linenumber AS VARCHAR), '') AS loanzip,
           CASE WHEN l.l_linenumber IS NULL THEN ''
                ELSE 'Ownership/Deed of Trust' END AS nature_of_interest,
           COALESCE(CASE WHEN CAST(l.l_quantity AS BIGINT) > 45 THEN {_QTY_S} END, '')
             AS nature_of_interest_lease_years_remaining,
           '' AS nature_of_interest_other_description,
           COALESCE(CAST(l.l_orderkey AS VARCHAR) || ' Main St', '') AS parcel_or_address,
           COALESCE(l.l_linestatus, '') AS transaction_type,
           COALESCE('source:' || l.l_linestatus || ',amount:'
                    || CAST(CAST(l.l_quantity AS BIGINT) * 3 AS VARCHAR), '')
             AS income_sources,
           {_FILER_SQL}
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 3 = 1) l
           ON l.l_orderkey = o.o_orderkey
    """,
    tags=("refparity", "pipeline"),
    doc=(
        "EP1 scheduleB: the doubly-nested loan struct flattens to dotted "
        "loan.* columns (N1, the reference scheduleB schema's shape), which "
        "C9 snake_case collapses (dots stripped THEN underscored: "
        "loan.highestBalance -> loanhighest_balance, Form700.py:464-468)."
    ),
)
def ref_pipeline_scheduleB(spark, sf_dir):
    from ..plans.form700 import pipeline_dataset

    return pipeline_dataset(spark, sf_dir, "scheduleB")


@register(
    "ref_pipeline_scheduleD",
    oracle=f"""
    SELECT CAST(o.o_orderkey AS VARCHAR) AS filing_id,
           CAST(o.o_custkey AS VARCHAR) AS filer_id,
           COALESCE(CAST(l.l_linenumber AS VARCHAR), '') AS id,
           COALESCE(CAST(l.l_orderkey AS VARCHAR) || ' Gift Ln', '') AS address,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'Retail' END
             AS business_activity,
           COALESCE(l.l_linestatus, '') AS city,
           COALESCE('Donor-' || l.l_returnflag, '') AS name_of_source,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'CA' END AS state,
           COALESCE(l.l_linestatus, '') AS transaction_type,
           COALESCE('9410' || CAST(l.l_linenumber AS VARCHAR), '') AS zip,
           COALESCE(CAST(CAST(l.l_quantity AS BIGINT) + g.i AS DOUBLE), 0.0)
             AS amount,
           COALESCE(l.l_linestatus || ' gift ' || CAST(g.i AS VARCHAR), '')
             AS description,
           COALESCE(strftime(l.l_shipdate + to_days(g.i), '%Y%m%d'), '')
             AS gift_date,
           {_FILER_SQL}
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 4 = 1) l
           ON l.l_orderkey = o.o_orderkey
    LEFT JOIN (VALUES (1), (2)) g(i)
           ON g.i <= (CASE WHEN CAST(l.l_quantity AS BIGINT) > 40 THEN 2 ELSE 1 END)
    """,
    tags=("refparity", "pipeline"),
    doc=(
        "EP1 scheduleD: gifts explode WITHOUT the E2 prefix (the reference "
        "renames only realProperties children, Form700.py:337-343)."
    ),
)
def ref_pipeline_scheduleD(spark, sf_dir):
    from ..plans.form700 import pipeline_dataset

    return pipeline_dataset(spark, sf_dir, "scheduleD")


@register(
    "ref_pipeline_scheduleC",
    oracle=f"""
    SELECT CAST(o.o_orderkey AS VARCHAR) AS filing_id,
           CAST(o.o_custkey AS VARCHAR) AS filer_id,
           COALESCE(CAST(l.l_linenumber AS VARCHAR), '') AS id,
           COALESCE(CAST(l.l_orderkey AS VARCHAR) || ' Income Ave', '')
             AS income_address,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'Consulting' END
             AS income_business_activity,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN l.l_partkey % 2 = 0 THEN 'Owner'
                         ELSE 'Advisor' END, '') AS income_business_position,
           COALESCE(l.l_linestatus, '') AS income_city,
           COALESCE(CAST(CAST(l.l_quantity AS BIGINT) * 12 AS DOUBLE), 0.0)
             AS income_gross_income,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 25 THEN '10001-100000'
                         ELSE '1001-10000' END, '') AS income_gross_income_as_range,
           COALESCE(CASE WHEN l.l_partkey % 2 = 1
               THEN 'source:' || l.l_returnflag || ',amount:' || {_QTY_S}
                    || '|source:SPOUSE,amount:'
                    || CAST(CAST(l.l_quantity AS BIGINT) + 5 AS VARCHAR)
               ELSE 'source:' || l.l_returnflag || ',amount:' || {_QTY_S}
           END, '') AS income_sources,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'CA' END AS income_state,
           COALESCE('9410' || CAST(l.l_linenumber AS VARCHAR), '') AS income_zip,
           COALESCE('Loan Plaza ' || CAST(l.l_linenumber AS VARCHAR), '')
             AS loan_address,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'Lending' END
             AS loan_business_activity,
           COALESCE(l.l_linestatus, '') AS loan_city,
           COALESCE(CAST(CAST(l.l_quantity AS BIGINT) * 50 AS DOUBLE), 0.0)
             AS loan_highest_balance,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN '100001-1000000'
                         ELSE '10001-100000' END, '') AS loan_highest_balance_as_range,
           {_numcast_sql(_QTY_S + " || '%'")} AS loan_interest_rate,
           COALESCE('Bank-' || l.l_returnflag, '') AS loan_name_of_lender,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN l.l_partkey % 2 = 0 THEN 'None'
                         ELSE 'Personal residence' END, '') AS loan_security,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'CA' END AS loan_state,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN '30 years'
                         ELSE '15 years' END, '') AS loan_term,
           COALESCE('9410' || CAST(l.l_linenumber AS VARCHAR), '') AS loan_zip,
           COALESCE('Emp-' || l.l_linestatus, '') AS name_of_income_source,
           COALESCE(l.l_returnflag, '') AS reason_for_income,
           COALESCE(CASE WHEN l.l_returnflag = 'N' THEN 'Other reason' END, '')
             AS reason_for_income_other,
           COALESCE(CASE WHEN l.l_returnflag = 'R' THEN 'Sale of property' END, '')
             AS reason_for_income_sale,
           COALESCE(l.l_linestatus, '') AS transaction_type,
           {_FILER_SQL}
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 3 = 2) l
           ON l.l_orderkey = o.o_orderkey
    """,
    tags=("refparity", "pipeline"),
    doc=(
        "EP1 scheduleC over the full reference inventory (35 fields; the "
        "flat income*/loan* field families, unlike B's dotted loan.* "
        "struct) — incomeSources stringify with the two-element SPOUSE "
        "variant."
    ),
)
def ref_pipeline_scheduleC(spark, sf_dir):
    from ..plans.form700 import pipeline_dataset

    return pipeline_dataset(spark, sf_dir, "scheduleC")


@register(
    "ref_pipeline_scheduleE",
    oracle=f"""
    SELECT CAST(o.o_orderkey AS VARCHAR) AS filing_id,
           CAST(o.o_custkey AS VARCHAR) AS filer_id,
           COALESCE(CAST(l.l_linenumber AS VARCHAR), '') AS id,
           COALESCE(CAST(l.l_orderkey AS VARCHAR) || ' Travel Rd', '') AS address,
           {_numcast_sql(
               _QTY_S + " || (CASE WHEN l.l_returnflag = 'N' THEN 'n' ELSE '' END)"
           )} AS amount,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'Advocacy' END
             AS business_activity,
           COALESCE(l.l_linestatus, '') AS city,
           COALESCE(CASE WHEN CAST(l.l_quantity AS BIGINT) > 20
                         THEN strftime(l.l_shipdate + INTERVAL 5 DAY, '%Y%m%d')
                    END, '') AS end_date,
           COALESCE(l.l_partkey % 2 = 0, FALSE) AS is_nonprofit,
           COALESCE(l.l_partkey % 7 = 0, FALSE) AS is_other,
           COALESCE(CAST(l.l_quantity AS BIGINT) > 25, FALSE) AS made_speech,
           COALESCE('Src-' || l.l_returnflag, '') AS name_of_source,
           COALESCE(CASE WHEN l.l_partkey % 7 = 0 THEN 'Other payment' END, '')
             AS other_description,
           COALESCE(strftime(l.l_shipdate, '%Y%m%d'), '') AS start_date,
           CASE WHEN l.l_linenumber IS NULL THEN '' ELSE 'CA' END AS state,
           COALESCE(l.l_linestatus, '') AS transaction_type,
           COALESCE('Travel to ' || l.l_linestatus, '') AS travel_description,
           COALESCE(CASE WHEN l.l_linenumber IS NULL THEN NULL
                         WHEN CAST(l.l_quantity AS BIGINT) > 15 THEN 'REIMBURSEMENT'
                         ELSE 'ADVANCE' END, '') AS type_of_payment,
           COALESCE('9410' || CAST(l.l_linenumber AS VARCHAR), '') AS zip,
           {_FILER_SQL}
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 5 = 2) l
           ON l.l_orderkey = o.o_orderkey
    """,
    tags=("refparity", "pipeline"),
    doc=(
        "EP1 scheduleE over the full reference inventory (26 fields incl. "
        "the checkbox trio isNonprofit/isOther/madeSpeech with the C4 "
        "NULL->False semantics on itemless filings)."
    ),
)
def ref_pipeline_scheduleE(spark, sf_dir):
    from ..plans.form700 import pipeline_dataset

    return pipeline_dataset(spark, sf_dir, "scheduleE")


@register(
    "ref_pipeline_comments",
    oracle=f"""
    SELECT CAST(o.o_orderkey AS VARCHAR) AS filing_id,
           CAST(o.o_custkey AS VARCHAR) AS filer_id,
           CAST(o.o_orderkey AS VARCHAR) AS id,
           'Line1Line2-' || o.o_orderstatus AS comment,
           o.o_orderstatus AS transaction_type,
           {_FILER_SQL}
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("refparity", "pipeline"),
    doc=(
        "EP1 comments: C7 newline strip exercised end to end — the "
        "synthesized comment embeds a literal newline that the clean pass "
        "removes (Form700.py:296-298)."
    ),
)
def ref_pipeline_comments(spark, sf_dir):
    from ..plans.form700 import pipeline_dataset

    return pipeline_dataset(spark, sf_dir, "comments")


@register(
    "ref_pipeline_incremental",
    oracle=_A1_PIPELINE_SQL,
    tags=("refparity", "pipeline", "incremental"),
    doc=(
        "Incremental pipeline run: a simulated prior snapshot (one in "
        "seven filings not yet extracted; one in five carrying a stale, "
        "since-amended positionName) is brought up to date by detecting "
        "changed/new filings via a row-version hash, running the clean "
        "pipeline over ONLY those filings, and merging (anti-join out the "
        "stale rows, union the fresh ones).  The oracle is the FULL "
        "recompute SQL — the check is the incremental-consistency law "
        "incremental(prev, current) == full(current), cross-engine.  At "
        "100 TB this is the difference between re-cleaning every filing "
        "on every run (the reference full-replaces, Form700.py:481-482) "
        "and touching only the delta."
    ),
)
def ref_pipeline_incremental(spark, sf_dir):
    from ..plans.form700 import run_form700_pipeline, synthesize_filings

    filings = synthesize_filings(spark, sf_dir)
    fid = F.col("filingId")
    # prior snapshot: 1/7 of filings missing (new since last run), 1/5
    # stale (amended since last run — positionName changed upstream)
    prev_src = filings.filter(fid % 7 != 0).withColumn(
        "positionName",
        F.when(fid % 5 == 0, F.lit("Pos-STALE")).otherwise(F.col("positionName")),
    )
    prev_out = run_form700_pipeline(prev_src, datasets=("scheduleA1",))["scheduleA1"]
    # change detection: version-hash the mutable filer scalars (at scale,
    # hash the full payload); new or hash-mismatched filings re-process
    ver = F.md5(
        F.concat_ws(
            "|", "filerName", "departmentName", "positionName", "filingDate"
        )
    )
    cur_ver = filings.select(fid.alias("filingId"), ver.alias("v"))
    prev_ver = prev_src.select(fid.alias("filingId"), ver.alias("pv"))
    changed = (
        cur_ver.join(prev_ver, "filingId", "left")
        .filter(F.col("pv").isNull() | (F.col("pv") != F.col("v")))
        .select("filingId")
    )
    fresh_src = filings.join(changed, "filingId", "left_semi")
    fresh = run_form700_pipeline(fresh_src, datasets=("scheduleA1",))["scheduleA1"]
    # merge: retire every row of a changed filing, append its fresh rows
    changed_out_keys = changed.select(fid.cast("string").alias("filing_id"))
    return prev_out.join(changed_out_keys, "filing_id", "left_anti").unionByName(
        fresh
    )


@register(
    "ref_pipeline_dual_audit",
    oracle="""
    WITH n AS (
      SELECT
        (SELECT COUNT(*) FROM orders) AS cover_n,
        (SELECT COUNT(*) FROM orders o
           LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey) AS a1_n,
        (SELECT COUNT(*) FROM orders o
           LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 2 = 0) l
                  ON l.l_orderkey = o.o_orderkey
           LEFT JOIN (VALUES (1), (2)) rp(i)
                  ON rp.i <= (CASE WHEN CAST(l.l_quantity AS BIGINT) > 30 THEN 2
                                   WHEN l.l_partkey % 2 = 0 THEN 1 ELSE 0 END)) AS a2_n,
        (SELECT COUNT(*) FROM orders o
           LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 3 = 1) l
                  ON l.l_orderkey = o.o_orderkey) AS b_n,
        (SELECT COUNT(*) FROM orders o
           LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 3 = 2) l
                  ON l.l_orderkey = o.o_orderkey) AS c_n,
        (SELECT COUNT(*) FROM orders o
           LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 4 = 1) l
                  ON l.l_orderkey = o.o_orderkey
           LEFT JOIN (VALUES (1), (2)) g(i)
                  ON g.i <= (CASE WHEN CAST(l.l_quantity AS BIGINT) > 40
                                  THEN 2 ELSE 1 END)) AS d_n,
        (SELECT COUNT(*) FROM orders o
           LEFT JOIN (SELECT * FROM lineitem WHERE l_linenumber % 5 = 2) l
                  ON l.l_orderkey = o.o_orderkey) AS e_n,
        (SELECT COUNT(*) FROM orders) AS comments_n
    )
    SELECT dataset, CAST(n_rows AS BIGINT) AS n_rows FROM (
      SELECT 'cover' AS dataset, cover_n AS n_rows FROM n
      UNION ALL SELECT 'cover_redacted', cover_n FROM n
      UNION ALL SELECT 'scheduleA1', a1_n FROM n
      UNION ALL SELECT 'scheduleA1_redacted', a1_n FROM n
      UNION ALL SELECT 'scheduleA2', a2_n FROM n
      UNION ALL SELECT 'scheduleA2_redacted', a2_n FROM n
      UNION ALL SELECT 'scheduleB', b_n FROM n
      UNION ALL SELECT 'scheduleB_redacted', b_n FROM n
      UNION ALL SELECT 'scheduleC', c_n FROM n
      UNION ALL SELECT 'scheduleC_redacted', c_n FROM n
      UNION ALL SELECT 'scheduleD', d_n FROM n
      UNION ALL SELECT 'scheduleD_redacted', d_n FROM n
      UNION ALL SELECT 'scheduleE', e_n FROM n
      UNION ALL SELECT 'scheduleE_redacted', e_n FROM n
      UNION ALL SELECT 'comments', comments_n FROM n
      UNION ALL SELECT 'comments_redacted', comments_n FROM n
    ) t
    """,
    tags=("refparity", "pipeline", "agg"),
    doc=(
        "O2 dual-run audit: the full 16-dataset dict (8 private + 8 "
        "redacted twins, driven by the table registry) row-counted in one "
        "unioned lazy plan — the reference's per-dataset totalRecords "
        "reconciliation (A1/A3) across the whole job."
    ),
)
def ref_pipeline_dual_audit(spark, sf_dir):
    from functools import reduce

    from pyspark.sql import DataFrame

    from ..plans.form700 import run_dual

    tables_ = run_dual(spark, sf_dir)
    counts = [
        df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(name).alias("dataset"), "n_rows"
        )
        for name, df in sorted(tables_.items())
    ]
    return reduce(DataFrame.unionByName, counts)


@register(
    "ref_chunking_audit",
    oracle="""
    WITH numbered AS (
        SELECT o_orderkey,
               row_number() OVER (ORDER BY o_orderkey) AS rn
        FROM orders
    )
    SELECT CAST((rn - 1) // 1000 AS INT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS chunk_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS last_key
    FROM numbered GROUP BY 1
    """,
    tags=("refparity", "sink"),
    doc="K1: fixed-size (1000-row) chunk assignment over a total order, audited per chunk.",
)
def ref_chunking_audit(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    # Global row numbers over ROW grain (the chunker's semantics) via
    # the two-pass partitioned rank (operators/prefix.py) — a global
    # row_number window would single-partition-sort the whole table.
    from ..operators.prefix import partitioned_prefix_sum

    numbered = partitioned_prefix_sum(
        o.select("o_orderkey"), ["o_orderkey"], rank_col="rn"
    )
    return (
        numbered
        .select("o_orderkey", (((F.col("rn") - 1) / 1000).cast("int")).alias("chunk_id"))
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("chunk_rows"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
    )

"""The reference's whole ETL (EP1, /root/reference/Form700.py:667-687)
re-expressed as one lazy Spark dataflow — all 16 datasets, config-driven.

Reference pipeline:  extract cover + 7 schedule tables → left-join filer
info onto every schedule row (J1, :346-352) → clean per table: route
list-columns to stringify/explode from the table registry's
``list_columns`` (N3, :325-344), project to the schema CSV (P1, :253),
strip newlines (C7, :296-298), cast per declared type (C1/C2, :259-289)
→ load — all eager pandas, one thread, twice (private + redacted,
:716-718).  Here the same dataflow is a dict of lazy Catalyst plans:
each explode is linear (not the reference's O(n²) loop), the enrichment
join broadcasts the filer side, and the clean pass is ONE rendered
``selectExpr`` per table: a dataset build reads ``filings.schema`` once,
walks it in Python, and renders per schema-CSV field source path
(dotted leaf, stringified list, or prefixed explode child) → C7 → C1 →
``AS`` snake_case (C9) from the SQL-text rule bodies in ``functions/``
— 54-100 py4j round trips per dataset, not 3,100-6,900.

The routing is DATA, not code: ``resources/form700_tables.csv`` (the
reference's registry shape — df_name, list_columns ``:``-split,
FourByFour, redacted flag) decides per table which array columns are
stringified vs exploded, exactly like ``checkForListColumns``
(Form700.py:325-344).  Only ``gifts``/``realProperties`` explode — the
reference hardcodes that exception (:337-343) — and only
``realProperties`` children get the E2 prefix rename (:356-362).

``synthesize_filings`` builds a deterministic nested filings table from
the TPC-H fixtures (orders = filings, customers = filers, lineitems =
schedule items; FIXTURES.md §F1), covering every structural feature the
reference's source exhibits: array<struct> list columns on every
schedule, a doubly-nested ``loan`` struct (scheduleB, dotted columns
after N1 flatten), variable-length ``realProperties``/``gifts`` arrays
(E1 explode incl. the empty-array NULL-row case), dirty number strings
(C2), and embedded newlines (C7) — so the full 16-dataset pipeline is
DuckDB-oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cleaning import clean_field, quote, schema_projection
from ..functions.nested import (
    Columns,
    explode_outer_flat,
    schema_columns,
    stringify_structs,
    struct_leaves,
)
from ..io import materialize, session_cached, table
from ..schema_registry import TableInfo, load_schema, load_table_registry

SCHEDULE_NAMES = (
    "scheduleA1",
    "scheduleA2",
    "scheduleB",
    "scheduleC",
    "scheduleD",
    "scheduleE",
    "comments",
)

# N3's hardcoded routing exception (Form700.py:337-343): these two list
# columns explode instead of stringifying; only realProperties children
# get the E2 prefix (renameRealPropertyCols, :356-362).
EXPLODE_COLUMNS = {"gifts": "", "realProperties": "realProperty"}

# J1's filer projection (Form700.py:347-348): the cover columns
# attached to every schedule row (every schedule schema declares
# filerId/filingId plus the 7 filer display columns; each schedule's
# P1 projection drops whichever it does not declare).
FILER_COLS = (
    "filingId",
    "filerId",
    "filerName",
    "departmentName",
    "positionName",
    "offices",
    "periodStart",
    "periodEnd",
    "filingDate",
)

# Which lineitem rows feed each schedule's array (the CASE condition
# inside the collect_list; FIXTURES.md §F1).  Module-level so the
# single-schedule pre-filter in synthesize_filings and the arr_defs
# below can never drift apart.
SCHEDULE_CONDS = (
    ("scheduleA1", "true"),
    ("scheduleA2", "l_linenumber % 2 = 0"),
    ("scheduleB", "l_linenumber % 3 = 1"),
    ("scheduleC", "l_linenumber % 3 = 2"),
    ("scheduleD", "l_linenumber % 4 = 1"),
    ("scheduleE", "l_linenumber % 5 = 2"),
)


def synthesize_filings(
    spark: SparkSession, sf_dir: str, datasets: tuple[str, ...] | None = None
) -> DataFrame:
    """One nested row per filing: cover fields + ``offices``
    array<struct> + one array<struct> per schedule (FIXTURES.md §F1).

    All seven schedule arrays are built in ONE pass over lineitem —
    ``collect_list`` drops the NULLs that the per-schedule ``when``
    filters produce, so a single groupBy yields every array without
    re-shuffling lineitem per schedule (the reference re-traverses all
    pages per schedule, Form700.py:166,178 — an anti-pattern SURVEY §4.1
    flags).

    ``datasets`` (None = everything) prunes the CONSTRUCTED tree to the
    named pipeline datasets: single-dataset callers get a source plan
    carrying only the filer columns plus their one schedule array.
    Catalyst's column pruning already removes the unused arrays from
    the OPTIMIZED plan, but the driver still pays construction +
    analysis + codegen for the full ~300-field tree first — on a fresh
    JVM that cost ran 36 s for ref_pipeline_scheduleA2 at sf0.1 vs
    1.9 s warm (BENCH_DETAIL r10 queries_cold).  Pruned and unpruned
    plans are NOT cell-identical: for a filing that has lineitems but
    none qualifying for the schedule, a single-dataset build yields NULL
    for that schedule's array where the full build yields ``[]`` (the
    pre-filter below).  The two are equal only after ``explode_outer``
    (both give one all-NULL schedule row), which is how every pipeline
    dataset consumes them; a direct consumer of the array (``size``,
    ``isnull``) sees the difference.

    Every synthesized expression is rendered as a SQL STRING and enters
    the plan through ONE ``F.expr``/``selectExpr`` parse per output
    column, like the clean pass: per-field Column composition pays a
    py4j round trip per call."""
    want = set(datasets) if datasets is not None else None

    def need(name: str) -> bool:
        return want is None or name in want

    need_cover = need("cover")
    wanted_arrays = [n for n in SCHEDULE_NAMES[:-1] if need(n)]
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    l = table(spark, sf_dir, "lineitem")
    # Single-schedule construction (the shape every per-schedule
    # pipeline_dataset call takes): rows failing the schedule's
    # l_linenumber condition only ever produce the NULL arm of the
    # CASE inside collect_list — which collect_list drops — so filter
    # them BEFORE the repartition instead (r16, guide §2.3: shuffle
    # fewer rows).  Equivalence: for groups with a qualifying row the
    # collected array is identical; a group with NO qualifying rows
    # yields an empty array here vs no group row there, and after the
    # LEFT join both arrive at explode_outer as []/NULL, which produce
    # the same single NULL-children row.  Cover is untouched (its
    # count(1) audit needs every row), as is any multi-schedule build.
    # At sf0.1 this halves the scheduleA2 shuffle/agg rows (600k→300k;
    # B/C 1/3, D 1/4, E 1/5) — the same fraction at 100 TB.
    single_cond: str | None = None
    if not need_cover and len(wanted_arrays) == 1:
        cond = dict(SCHEDULE_CONDS)[wanted_arrays[0]]
        if cond != "true":
            single_cond = cond
            l = l.filter(cond)
    # Pre-shuffle on the group key, sized by the data: the collect_list
    # aggregates compress nothing map-side, so shuffling the narrow raw
    # lineitem rows (not the partial arrays) is the cheap exchange, and a
    # keyed repartition satisfies the aggregate's required distribution,
    # so Spark adds no shuffle of its own.  The builder states the
    # distribution, not a task count: a keyed repartition with no count
    # starts at spark.sql.shuffle.partitions and is REPARTITION_BY_COL,
    # which AQE coalesces by bytes (a fixed count is REPARTITION_BY_NUM,
    # which AQE never touches).  On a 4-core host (Spark 4.1.2, warm
    # build + collect of cover, scheduleA2 and scheduleB, process-tree
    # CPU, medians of 4, fixed count of 4 → keyed) the ~0.06 MB sf0.001
    # shuffle collapses to one aggregate task instead of four: 6.32 →
    # 4.03 CPU-s.  sf0.01: 13.09 → 12.48 CPU-s, 9.62 → 10.35 s wall.
    # At sf0.1 the shuffle stays wide: 137.1 → 132.6 CPU-s, 77.0 →
    # 74.1 s wall.
    l = l.repartition("l_orderkey")

    m = "l_linenumber"
    qty = "CAST(l_quantity AS BIGINT)"
    qty_s = f"CAST({qty} AS STRING)"
    rf = "l_returnflag"
    ship = "l_linestatus"
    pk = "l_partkey"
    okey_s = "CAST(l_orderkey AS STRING)"

    ship_ymd = "date_format(l_shipdate, 'yyyyMMdd')"
    disposed_ymd = (
        f"CASE WHEN {rf} = 'R' "
        "THEN date_format(date_add(l_shipdate, 30), 'yyyyMMdd') END"
    )
    # full reference scheduleA1 item (form700_scheduleA1_schema.csv)
    a1 = lambda: f"""named_struct(
        'id', {m},
        'businessDescription', concat('Desc-', {rf}),
        'dateAcquired', {ship_ymd},
        'dateDisposed', {disposed_ymd},
        'fairMarketValue', concat({qty_s},
            CASE WHEN {m} % 3 = 0 THEN 'k' ELSE '' END,
            CASE WHEN {rf} = 'R' THEN '%' ELSE '' END),
        'fairMarketValueAsRange',
            CASE WHEN {qty} > 30 THEN '100001-1000000' ELSE '10001-100000' END,
        'nameOfBusinessEntity', concat('Ent-', {ship}),
        'natureOfInvestment', {rf},
        'natureOfInvestmentOtherDescription',
            CASE WHEN {rf} = 'N' THEN 'Other investment' END,
        'partnershipAmount', {qty} * 7,
        'partnershipAmountAsRange',
            CASE WHEN {qty} > 35 THEN '10001-100000' ELSE '1001-10000' END,
        'transactionType', {ship})"""

    def income(src: str, amt: str) -> str:
        return f"named_struct('source', {src}, 'amount', {amt})"

    # full reference realProperties element (the 11 realProperty*
    # children of form700_scheduleA2_schema.csv:30-40, pre-E2-prefix)
    def rp_elem(i: int) -> str:
        disposed = (
            "date_format(date_add(l_shipdate, 60), 'yyyyMMdd')"
            if i == 2
            else "CAST(NULL AS STRING)"
        )
        inv_type = "SOLE" if i == 1 else "PARTNERSHIP"
        return f"""named_struct(
        'businessName', concat('RP-Biz-', {ship}),
        'dateAcquired', {ship_ymd},
        'dateDisposed', {disposed},
        'descriptionOrCityOrLocation', {ship},
        'fairMarketValue', {qty} * 1000 + {i},
        'fairMarketValueAsRange',
            CASE WHEN {qty} > 30 THEN '1000001-2000000' ELSE '100001-1000000' END,
        'investmentType', '{inv_type}',
        'natureOfInterest', 'Ownership/Deed of Trust',
        'natureOfInterest_LeaseYearsRemaining',
            CASE WHEN {qty} > 45 THEN {qty_s} END,
        'natureOfInterest_OtherDescription', CAST(NULL AS STRING),
        'parcelAddress',
            concat('P-', {okey_s}, '-', CAST({m} AS STRING), '-{i}'))"""

    zip_s = f"concat('9410', CAST({m} AS STRING))"
    term_s = f"CASE WHEN {qty} > 30 THEN '30 years' ELSE '15 years' END"
    # full reference scheduleA2 item (form700_scheduleA2_schema.csv) —
    # every scalar the schema declares, so the P1 projection over the
    # full 38-column inventory resolves
    a2 = lambda: f"""named_struct(
        'id', {m},
        'address', concat({okey_s}, ' Commerce Way'),
        'businessPosition',
            CASE WHEN {pk} % 2 = 0 THEN 'Owner' ELSE 'Partner' END,
        'businessType', concat('Type-', {rf}),
        'city', {ship},
        'dateAcquired', {ship_ymd},
        'dateDisposed', {disposed_ymd},
        'description', concat('Desc ', {qty_s}),
        'entityName', concat('Biz-', {ship}),
        'fairMarketValueScheduleA2',
            concat({qty_s}, CASE WHEN {rf} = 'A' THEN '%' ELSE '' END),
        'fairMarketValueScheduleA2AsRange',
            CASE WHEN {qty} > 30 THEN '100001-1000000' ELSE '10001-100000' END,
        'grossIncomeReceived', {qty} * 10,
        'grossIncomeReceivedAsRange',
            CASE WHEN {qty} > 25 THEN '10001-100000' ELSE '1001-10000' END,
        'incomeSources',
            CASE WHEN {rf} = 'R'
                 THEN array({income(ship, qty)}, {income("'ROYALTY'", f"{qty} * 2")})
                 ELSE array({income(ship, qty)}) END,
        'natureOfInvestment', {rf},
        'natureOfInvestment_OtherDescription',
            CASE WHEN {rf} = 'N' THEN 'Other investment' END,
        'state', 'CA',
        'transactionType', {ship},
        'zip', {zip_s},
        'realProperties',
            slice(array({rp_elem(1)}, {rp_elem(2)}), 1,
                  CASE WHEN {qty} > 30 THEN 2
                       WHEN {pk} % 2 = 0 THEN 1 ELSE 0 END))"""

    # full reference scheduleB item (form700_scheduleB_schema.csv)
    b = lambda: f"""named_struct(
        'id', {m},
        'city', {ship},
        'dateAcquired', {ship_ymd},
        'dateDisposed', {disposed_ymd},
        'fairMarketValueScheduleB',
            concat({qty_s}, CASE WHEN {rf} = 'A' THEN '%' ELSE '' END),
        'fairMarketValueScheduleBAsRange',
            CASE WHEN {qty} > 30 THEN '100001-1000000' ELSE '10001-100000' END,
        'grossIncomeReceived',
            concat({qty_s}, CASE WHEN {pk} % 3 = 0 THEN 'k' ELSE '' END),
        'grossIncomeReceivedAsRange',
            CASE WHEN {qty} > 25 THEN '10001-100000' ELSE '1001-10000' END,
        'loan', named_struct(
            'address', concat('Lender Plaza ', CAST({m} AS STRING)),
            'businessActivity', 'Lending',
            'city', {ship},
            'guarantor',
                CASE WHEN {pk} % 2 = 0 THEN concat('Guarantor-', {rf}) END,
            'highestBalance', {qty} * 100,
            'highestBalanceAsRange',
                CASE WHEN {qty} > 30 THEN '100001-1000000' ELSE '10001-100000' END,
            'interestRate', concat({qty_s}, '%'),
            'nameOfLender', concat('Bank-', {rf}),
            'state', 'CA',
            'term', {term_s},
            'zip', {zip_s}),
        'incomeSources', array({income(ship, f"{qty} * 3")}),
        'natureOfInterest', 'Ownership/Deed of Trust',
        'natureOfInterest_LeaseYearsRemaining',
            CASE WHEN {qty} > 45 THEN {qty_s} END,
        'natureOfInterest_OtherDescription', CAST(NULL AS STRING),
        'parcelOrAddress', concat({okey_s}, ' Main St'),
        'transactionType', {ship})"""

    # full reference scheduleC item (form700_scheduleC_schema.csv; the
    # reference's C loan* fields are FLAT names, unlike B's dotted loan.*)
    c_item = lambda: f"""named_struct(
        'id', {m},
        'incomeAddress', concat({okey_s}, ' Income Ave'),
        'incomeBusinessActivity', 'Consulting',
        'incomeBusinessPosition',
            CASE WHEN {pk} % 2 = 0 THEN 'Owner' ELSE 'Advisor' END,
        'incomeCity', {ship},
        'incomeGrossIncome', {qty} * 12,
        'incomeGrossIncomeAsRange',
            CASE WHEN {qty} > 25 THEN '10001-100000' ELSE '1001-10000' END,
        'incomeSources',
            CASE WHEN {pk} % 2 = 1
                 THEN array({income(rf, qty)}, {income("'SPOUSE'", f"{qty} + 5")})
                 ELSE array({income(rf, qty)}) END,
        'incomeState', 'CA',
        'incomeZip', {zip_s},
        'loanAddress', concat('Loan Plaza ', CAST({m} AS STRING)),
        'loanBusinessActivity', 'Lending',
        'loanCity', {ship},
        'loanHighestBalance', {qty} * 50,
        'loanHighestBalanceAsRange',
            CASE WHEN {qty} > 30 THEN '100001-1000000' ELSE '10001-100000' END,
        'loanInterestRate', concat({qty_s}, '%'),
        'loanNameOfLender', concat('Bank-', {rf}),
        'loanSecurity',
            CASE WHEN {pk} % 2 = 0 THEN 'None' ELSE 'Personal residence' END,
        'loanState', 'CA',
        'loanTerm', {term_s},
        'loanZip', {zip_s},
        'nameOfIncomeSource', concat('Emp-', {ship}),
        'reasonForIncome', {rf},
        'reasonForIncomeOther', CASE WHEN {rf} = 'N' THEN 'Other reason' END,
        'reasonForIncomeSale', CASE WHEN {rf} = 'R' THEN 'Sale of property' END,
        'transactionType', {ship})"""

    # full reference scheduleD item (form700_scheduleD_schema.csv);
    # amount/description/giftDate are gift-level (explode, no prefix)
    def gift(i: int) -> str:
        return (
            f"named_struct('amount', {qty} + {i}, "
            f"'description', concat({ship}, ' gift {i}'), "
            f"'giftDate', date_format(date_add(l_shipdate, {i}), 'yyyyMMdd'))"
        )

    d = lambda: f"""named_struct(
        'id', {m},
        'address', concat({okey_s}, ' Gift Ln'),
        'businessActivity', 'Retail',
        'city', {ship},
        'nameOfSource', concat('Donor-', {rf}),
        'state', 'CA',
        'transactionType', {ship},
        'zip', {zip_s},
        'gifts', slice(array({gift(1)}, {gift(2)}), 1,
                       CASE WHEN {qty} > 40 THEN 2 ELSE 1 END))"""

    # full reference scheduleE item (form700_scheduleE_schema.csv)
    e = lambda: f"""named_struct(
        'id', {m},
        'address', concat({okey_s}, ' Travel Rd'),
        'amount', concat({qty_s}, CASE WHEN {rf} = 'N' THEN 'n' ELSE '' END),
        'businessActivity', 'Advocacy',
        'city', {ship},
        'endDate',
            CASE WHEN {qty} > 20
                 THEN date_format(date_add(l_shipdate, 5), 'yyyyMMdd') END,
        'isNonprofit', ({pk} % 2 = 0),
        'isOther', CASE WHEN {pk} % 7 = 0 THEN true END,
        'madeSpeech', ({qty} > 25),
        'nameOfSource', concat('Src-', {rf}),
        'otherDescription', CASE WHEN {pk} % 7 = 0 THEN 'Other payment' END,
        'startDate', {ship_ymd},
        'state', 'CA',
        'transactionType', {ship},
        'travelDescription', concat('Travel to ', {ship}),
        'typeOfPayment',
            CASE WHEN {qty} > 15 THEN 'REIMBURSEMENT' ELSE 'ADVANCE' END,
        'zip', {zip_s})"""

    def sched(cond: str, item: str) -> str:
        # collect_list skips NULLs -> per-schedule filter without a
        # second shuffle; sort_array on the unique leading id makes the
        # array order deterministic.  cond == "true" (scheduleA1, or a
        # single-schedule build whose rows were pre-filtered above)
        # skips the CASE wrapper outright.
        if cond == "true":
            return f"sort_array(collect_list({item}))"
        return f"sort_array(collect_list(CASE WHEN {cond} THEN {item} END))"

    # The schedule*Count audit columns are their own count(when)
    # aggregates, NOT size() over the collected arrays: cover's plan
    # needs only the counts, and separate aggregate expressions let
    # Catalyst prune all seven array builds out of that plan (a
    # size(collect_list) formulation would force the full nested
    # payload to materialize just to be counted).
    # Each item builder is a zero-arg lambda rendering a SQL string: a
    # pruned construction (``datasets``) never pays even the string
    # formatting for the schedules it skips, and each kept schedule is
    # ONE F.expr parse.
    makers = {
        "scheduleA1": a1,
        "scheduleA2": a2,
        "scheduleB": b,
        "scheduleC": c_item,
        "scheduleD": d,
        "scheduleE": e,
    }
    arr_defs = tuple(
        (nm, cond, makers[nm]) for nm, cond in SCHEDULE_CONDS
    )
    agg_exprs = [
        F.expr(
            f"{sched('true' if cond == single_cond else cond, mk())} AS {nm}"
        )
        for nm, cond, mk in arr_defs
        if nm in wanted_arrays
    ]
    if need_cover:
        # cover's audit counts, __nA1 .. __nE, one per SCHEDULE_CONDS entry
        agg_exprs += [
            F.expr(
                ("count(1)" if cond == "true" else f"count(CASE WHEN {cond} THEN 1 END)")
                + f" AS __n{nm.removeprefix('schedule')}"
            )
            for nm, cond in SCHEDULE_CONDS
        ]
    items = l.groupBy("l_orderkey").agg(*agg_exprs) if agg_exprs else None

    filing_ymd = "date_format(o_orderdate, 'yyyyMMdd')"
    period_start = "date_format(date_trunc('year', o_orderdate), 'yyyyMMdd')"
    cover_exprs = [
        # keys stay LONG in the nested source (join key below); the
        # clean pass casts them to the schema's declared text type
        "o_orderkey AS filingId",
        "o_custkey AS filerId",
        "coalesce(c_name, '') AS filerName",
        "coalesce(c_mktsegment, '') AS departmentName",
        "concat('Pos-', o_orderstatus) AS positionName",
        f"{period_start} AS periodStart",
        "date_format(date_sub(add_months(date_trunc('year', o_orderdate), 12), 1),"
        " 'yyyyMMdd') AS periodEnd",
        f"{filing_ymd} AS filingDate",
    ]
    if need_cover:
        cover_exprs += [
            # full reference cover inventory (form700_cover_schema.csv) —
            # deterministic functions of the order row so the DuckDB
            # oracle mirrors each cell exactly
            "concat('AGY-', o_orderpriority) AS agency",
            "concat('Agency ', o_orderpriority) AS agencyName",
            "substring(o_orderpriority, 1, 1) AS agencyPrefix",
            f"{period_start} AS annualStartDate",
            "CASE WHEN o_orderkey % 11 = 0 THEN date_format(o_orderdate, 'yyyy')"
            " END AS candidateElectionYear",
            "CASE WHEN o_orderkey % 11 = 0 THEN concat('Office-', o_orderstatus)"
            " END AS candidateOfficeSought",
            "'ethics' AS categories",
            f"CASE WHEN o_orderkey % 7 = 0 THEN {filing_ymd} END AS dateAssumedOffice",
            f"CASE WHEN o_orderkey % 17 = 0 THEN {filing_ymd} END AS dateLeftOffice",
            "CASE WHEN o_orderkey % 3 = 0 THEN 'City description' END"
            " AS descriptionCity",
            "CASE WHEN o_orderkey % 5 = 0 THEN 'County description' END"
            " AS descriptionCounty",
            "CASE WHEN o_orderkey % 19 = 0 THEN 'Multi-county description' END"
            " AS descriptionMultiCounty",
            "CASE WHEN o_orderkey % 23 = 0 THEN 'Other description' END"
            " AS descriptionOther",
            "concat('First-', CAST(o_custkey AS STRING)) AS firstName",
            "concat('Last-', CAST(o_custkey AS STRING)) AS lastName",
            "CASE WHEN o_orderkey % 2 = 0 THEN 'M' END AS middleName",
            "'700' AS form",
            "o_orderkey AS id",
            "concat('INT-', CAST(o_orderkey AS STRING)) AS internalId",
            "(o_orderstatus = 'F') AS isAnnual",
            "(o_orderkey % 7 = 0) AS isAssuming",
            # NULL-unless-true checkbox: C4 coalesces NULL -> False
            "CASE WHEN o_orderkey % 11 = 0 THEN true END AS isCandidate",
            "1 AS commentCount",
            "(o_orderkey % 3 = 0) AS isCity",
            "(o_orderkey % 5 = 0) AS isCounty",
            "(o_orderkey % 13 = 0) AS isJudgeOrCourt",
            "(o_orderkey % 17 = 0) AS isLeaving",
            "(o_orderkey % 19 = 0) AS isMultiCounty",
            "(o_orderkey % 23 = 0) AS isOther",
            "(o_orderkey % 29 = 0) AS isState",
            f"CASE WHEN o_orderkey % 17 = 0 THEN {period_start} END"
            " AS leavingStatementStartDate",
            "o_orderstatus AS transactionType",
            "date_format(o_orderdate, 'yyyy') AS year",
        ]
    # offices rides with FILER_COLS onto every schedule row, so it is
    # unconditional; comments is its own dataset (cover DROPS it)
    cover_exprs.append(
        "array(named_struct('office', concat('Office-', o_orderpriority),"
        " 'position', o_orderstatus)) AS offices"
    )
    if need("comments"):
        # comments: one per filing, embedded newline exercises C7
        cover_exprs.append(
            "array(named_struct('id', o_orderkey,"
            " 'comment', concat('Line1\\nLine2-', o_orderstatus),"
            " 'transactionType', o_orderstatus)) AS comments"
        )
    cover = o.join(c, o.o_custkey == c.c_custkey, "left").selectExpr(
        *cover_exprs
    )
    if items is None:
        return cover
    filings = cover.join(items, cover.filingId == items.l_orderkey, "left").drop(
        "l_orderkey"
    )
    if not need_cover:
        return filings
    # per-schedule counts (cover schema's schedule*Count audit columns,
    # form700_cover_schema.csv:41-47) — sizes of the just-built arrays,
    # so the counts are consistent with the nested payload by
    # construction.  The reference's source carries C1/C2 as separate
    # schedules; the synthetic corpus models one scheduleC, reported as
    # C1 with C2 pinned to 0.
    counts = {
        "scheduleA1Count": "__nA1",
        "scheduleA2Count": "__nA2",
        "scheduleBCount": "__nB",
        "scheduleC1Count": "__nC",
        "scheduleDCount": "__nD",
        "scheduleECount": "__nE",
    }
    return filings.withColumns(
        {
            **{
                out: F.coalesce(F.col(src), F.lit(0)).cast("int")
                for out, src in counts.items()
            },
            "scheduleC2Count": F.lit(0),
        }
    ).drop(*counts.values())


def clean_dataset(df: DataFrame, cols: Columns, info: TableInfo) -> DataFrame:
    """C11 ``cleanDataSet`` (Form700.py:246-256) over ``df``, whose
    columns ``cols`` describes.  N3 ``checkForListColumns``
    (Form700.py:325-344) routes each registry list column: N2 stringify
    (keys in declared field order), except gifts/realProperties, which
    explode (realProperties with the E2 prefix).  Then ONE
    ``selectExpr`` renders P1 -> C7 -> C1 -> C9 per schema field.
    Redacted twins share the base schema CSV (from ``info.resource_dir``)."""
    cols = dict(cols)
    for col in info.list_columns:
        if col not in cols:
            raise KeyError(
                f"{info.df_name}: registry lists {col!r} but the table has no such column"
            )
        if col in EXPLODE_COLUMNS:
            df, cols = explode_outer_flat(df, cols, col, prefix=EXPLODE_COLUMNS[col])
        else:
            src, dtype = cols[col]
            cols[col] = (stringify_structs(src, dtype.elementType.names), T.StringType())
    schema = load_schema(info.base_name, info.resource_dir)
    sources = schema_projection({n: src for n, (src, _) in cols.items()}, schema.fields)
    return df.selectExpr(
        *(
            clean_field(src, schema.type_map[name], name)
            for name, src in zip(schema.fields, sources)
        )
    )


def run_form700_pipeline(
    filings: DataFrame,
    registry: dict[str, TableInfo] | None = None,
    suffix: str = "",
    datasets: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """EP1: nested filings → the full dict of flat clean tables (cover +
    7 schedules), each an independent lazy plan over the same source.

    Per schedule: S5 per-key extraction (``explode_outer`` of the
    filing-level array — read once, 8 projections, vs the reference's
    re-traversal per schedule), N1 dotted flatten of the exploded row,
    then the registry-driven clean pass.

    J1 note: the reference left-joins filer columns back onto every
    schedule row (Form700.py:346-352) because its schedule tables were
    parsed separately from cover.  Here the schedule rows are exploded
    FROM the enriched filing row, so the filer columns ride through the
    explode for free — same relation, zero joins, zero shuffles.  That
    matters at scale: a join would either broadcast the filer table
    (unbounded — at 100 TB cover is not broadcast-small) or shuffle
    every schedule row.  The standalone J1 operator is still
    demonstrated by ``ref_enrichment_join``.

    ``datasets`` limits the build to the named base tables: each
    table's plan costs a driver-side analysis pass over the (large)
    nested source tree, so single-table callers shouldn't pay for the
    other seven."""
    registry = registry or load_table_registry()
    top = schema_columns(filings.schema)
    out: dict[str, DataFrame] = {}
    for base in datasets or ("cover",) + SCHEDULE_NAMES:
        info = registry[base + suffix]
        if base == "cover":
            df = filings
            cols = {n: c for n, c in top.items() if n not in SCHEDULE_NAMES}
        else:
            df = filings.selectExpr(
                *(quote(c) for c in FILER_COLS), f"explode_outer({quote(base)}) AS __row"
            )
            cols = {c: top[c] for c in FILER_COLS}
            cols.update(struct_leaves("__row", top[base][1].elementType))
        out[info.df_name] = clean_dataset(df, cols, info)
    return out


def pipeline_dataset(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    """EP1 single-dataset entry: the cleaned flat table for ``base``
    (cover or one schedule) over the synthesized nested filings.

    The plan is memoized per (session, sf_dir, base) through
    ``io.session_cached``; a DataFrame is an immutable lazy plan, so
    handing the same object back is the same as rebuilding it.  An
    uncached warm build at sf0.001 (4-core host, medians of 10) runs no
    job now that ``io.table`` resolves each schema once, and still takes
    0.19-0.34 s for cover/scheduleA2/scheduleB (0.59-0.78 s with the
    three inference jobs), more on an un-JITted JVM; the memo saves it
    per repeat call.  The SOURCE construction is pruned to this dataset
    too (round 11): the un-pruned nested tree cost 36 s of fresh-JVM
    driver work at sf0.1 before Catalyst ever pruned a column."""

    def build() -> DataFrame:
        filings = synthesize_filings(spark, sf_dir, datasets=(base,))
        return run_form700_pipeline(filings, datasets=(base,))[base]

    return session_cached(spark, ("pipeline_dataset", sf_dir, base), build)


def run_dual(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """O2 dual-run (Form700.py:716-718): the same pipeline twice, once
    private and once redacted, redacted datasets keyed ``*_redacted``
    per the table registry.  Redaction is a source-side flag in the
    reference (the API redacts; the ETL has no redaction logic) —
    modeled here as a source filter so the run parameterization matches
    the reference's shape.

    The nested filings table is materialized (``io.materialize``) so
    the extraction/parse lineage runs ONCE and all 16 downstream
    dataset plans read the snapshot — at 100 TB you re-read the
    extracted snapshot, you do not re-extract per dataset.  (The
    redacted twin derives from the same snapshot; masking is a
    projection on top.)  The materialization is eager: ``run_dual``
    runs its job before it returns, so the dataset plans it returns
    start from a built snapshot."""
    registry = load_table_registry()
    filings = materialize(synthesize_filings(spark, sf_dir), "run_dual filings: every dataset plan")
    out: dict[str, DataFrame] = {}
    for redacted in (False, True):
        src = filings
        if redacted:
            # source-side redaction stand-in: the public feed masks filer names
            src = src.withColumn("filerName", F.lit("[REDACTED]"))
        out.update(
            run_form700_pipeline(
                src, registry=registry, suffix="_redacted" if redacted else ""
            )
        )
    return out

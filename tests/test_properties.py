"""Property-based tests (hypothesis) for the laws the engine's
arithmetic and cleaning functions must uphold on ARBITRARY inputs —
the fixture tables only exercise the values they happen to contain.

Each property collects a generated batch into ONE DataFrame and runs a
single Spark job over it (per-example Spark jobs would be 1000x
slower), comparing against an exact Python reference."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from form700_etl_spark.functions.cleaning import snake_case
from form700_etl_spark.functions.money import cents, money

# 2-decimal money values as the fixtures carry them (doubles holding
# the nearest-double of d.dd)
money_values = st.decimals(
    min_value=Decimal("-10000000.00"),
    max_value=Decimal("10000000.00"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)


@settings(max_examples=10, deadline=None)
@given(st.lists(money_values, min_size=1, max_size=200))
def test_cents_roundtrip_is_exact(spark, values):
    """money(cents(x)) == x for every 2-decimal value, and cents() is
    the half-up integer the decimal string implies — the law that makes
    integer-cents aggregation exact."""
    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = df.select(
        cents("v").alias("c"), money(cents("v")).alias("back"), "v"
    ).collect()
    for r, v in zip(got, values):
        expected_cents = int(
            (v * 100).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )
        assert r.c == expected_cents, (v, r.c)
        assert r.back == float(v), (v, r.back)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(money_values, min_size=1, max_size=50), min_size=1, max_size=20
    )
)
def test_cents_sum_is_order_and_partition_independent(spark, groups):
    """SUM over integer cents equals the exact decimal sum regardless of
    grouping/order — the reason oracle hashes match across engines."""
    rows = [(gi, float(v)) for gi, vs in enumerate(groups) for v in vs]
    df = spark.createDataFrame(rows, "g int, v double").repartition(7)
    got = {
        r.g: r.s for r in df.groupBy("g").agg(F.sum(cents("v")).alias("s")).collect()
    }
    for gi, vs in enumerate(groups):
        exact = sum(
            int((v * 100).quantize(Decimal("1"), rounding=ROUND_HALF_UP)) for v in vs
        )
        assert got[gi] == exact, (gi, got[gi], exact)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=40))
def test_snake_case_idempotent_and_normalized(name):
    """snake_case is idempotent and its output alphabet is closed
    (lowercased; no new uppercase introduced)."""
    once = snake_case(name)
    assert snake_case(once) == once
    assert once == once.lower() or not once.isascii()


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.text(alphabet="ab ", max_size=8), max_size=5), min_size=1, max_size=50
    )
)
def test_explode_outer_row_count_law_random(spark, arrays):
    """rows_out == sum(max(len(arr), 1)) for arbitrary arrays (empty
    arrays and NULL-free lists generated by hypothesis)."""
    rows = [(i, arr) for i, arr in enumerate(arrays)]
    df = spark.createDataFrame(rows, "id int, arr array<string>")
    n = df.withColumn("tok", F.explode_outer("arr")).count()
    assert n == sum(max(len(a), 1) for a in arrays)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 16) - 1),
            st.integers(min_value=0, max_value=(1 << 16) - 1),
        ),
        min_size=1,
        max_size=200,
    )
)
def test_zorder_key_matches_python_interleave(spark, points):
    """The SQL Morton key equals the reference bit-interleave for every
    in-range (x, y) — the law that makes the layout and its DuckDB
    oracle bit-identical."""
    from form700_etl_spark.operators.zorder import zorder_key

    def ref(x: int, y: int) -> int:
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    df = spark.createDataFrame(points, "x long, y long")
    got = df.select("x", "y", zorder_key(["x", "y"], bits=16).alias("z")).collect()
    for r in got:
        assert r.z == ref(r.x, r.y), (r.x, r.y, r.z)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=-(1 << 40), max_value=1 << 40), min_size=1, max_size=80),
    st.lists(st.integers(min_value=-(1 << 40), max_value=1 << 40), min_size=1, max_size=80),
)
def test_bloom_filter_never_false_negative_random_keys(spark, dim_keys, fact_keys):
    """For ARBITRARY key sets and a deliberately small bitmap: every
    fact key that IS in the dim set must survive the bloom prune."""
    from form700_etl_spark.operators.bloom import bloom_semi_join

    dim = spark.createDataFrame([(k,) for k in set(dim_keys)], "k long")
    fact = spark.createDataFrame([(k,) for k in fact_keys], "f long")
    pruned = {r.f for r in bloom_semi_join(fact, "f", dim, "k", m_bits=256, k=3).collect()}
    members = set(dim_keys)
    for key in fact_keys:
        if key in members:
            assert key in pruned, key


def test_entropy_and_psi_invariants(spark, sf_dir):
    """Information-theoretic laws on the real corpus: (1) per-doc token
    entropy lies in [0, ln(n_unique)] (uniform distribution is the
    maximum); (2) every PSI term (p-q)*ln(p/q) is non-negative — the
    sign guarantee that makes summed PSI a distance-like score."""
    import math

    from form700_etl_spark.registry import all_queries

    qs = all_queries()
    ent = qs["text_token_entropy"].fn(spark, sf_dir).collect()
    assert ent, "entropy query returned no rows"
    for r in ent:
        upper = math.log(r.n_unique) * 1e9 + 2  # nano-nats + rounding slack
        assert -2 <= r.entropy_nano <= upper, (r.doc_id, r.entropy_nano, upper)

    psi = qs["drift_psi_event_values"].fn(spark, sf_dir).collect()
    assert psi, "psi query returned no rows"
    for r in psi:
        if r.psi_term_nano is not None:
            assert r.psi_term_nano >= 0, (r.bin, r.psi_term_nano)


def test_kmv_estimate_accuracy_on_random_cardinalities(spark):
    """KMV estimator accuracy law on synthetic cardinalities: for n
    distinct values >> k the estimate must land within 5 standard
    errors (se ~ n/sqrt(k-2)) of truth — a loose-but-real bound that
    catches estimator-formula regressions (an off-by-one in u_k or a
    hash-space mix-up blows it by orders of magnitude)."""
    import math

    from pyspark.sql import functions as F

    from form700_etl_spark.operators.sketches import KMV_K, kmv_estimate, kmv_sketch

    for n in (500, 5000):
        df = spark.range(n).select(
            F.lit("g").alias("g"), F.col("id").alias("v")
        )
        sk = kmv_sketch(df, ["g"], "v", k=KMV_K)
        est = kmv_estimate(sk, k=KMV_K).collect()[0].estimate
        se = n / math.sqrt(KMV_K - 2)
        assert abs(est - n) <= 5 * se, (n, est, se)


def test_bm25_term_frequency_monotonicity(spark, tmp_path):
    """BM25 law: with document length and df held fixed, a document
    with MORE occurrences of the query term scores strictly higher —
    the saturation curve tf*(k1+1)/(tf+k1*norm) is increasing in tf."""
    import form700_etl_spark.queries.textops as t

    docs = spark.createDataFrame(
        [
            (1, "join " * 1 + "pad " * 9),
            (2, "join " * 3 + "pad " * 7),
            (3, "join " * 5 + "pad " * 5),
        ],
        "doc_id long, text string",
    ).select("doc_id", F.trim("text").alias("text"))
    # drive the registered plan through a parquet fixture dir so the
    # query reads it like any sf_dir
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d, exist_ok=True)
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    scores = {
        r.doc_id: r.score_micro for r in t.text_bm25_topk(spark, d).collect()
    }
    assert scores[1] < scores[2] < scores[3], scores


class TestHistogramQuantileSketch:
    """Laws for sketch_histogram_quantiles: bounded relative error vs
    the exact percentile, and lossless merge of partial histograms."""

    def test_error_bound_vs_exact_percentile(self, spark, sf_dir):
        from form700_etl_spark.io import table
        from form700_etl_spark.registry import all_queries

        est = {
            r["q"]: r["est_price"]
            for r in all_queries()["sketch_histogram_quantiles"]
            .fn(spark, sf_dir)
            .collect()
        }
        l = table(spark, sf_dir, "lineitem")
        exact = l.selectExpr(
            "percentile(round(l_extendedprice * 100), 0.5) / 100 AS p50",
            "percentile(round(l_extendedprice * 100), 0.9) / 100 AS p90",
            "percentile(round(l_extendedprice * 100), 0.99) / 100 AS p99",
        ).collect()[0]
        for q, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            rel = abs(est[q] - exact[name]) / exact[name]
            # 16 sub-bins per octave -> 2^(1/16)-1 ~ 4.4% by construction
            assert rel <= 0.045, (q, est[q], exact[name], rel)

    def test_partial_histograms_merge_losslessly(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from form700_etl_spark.io import table

        l = table(spark, sf_dir, "lineitem")
        bin_col = F.floor(
            16 * F.log2(F.round(F.col("l_extendedprice") * 100).cast("long"))
        ).alias("bin")
        whole = {
            r["bin"]: r["count"]
            for r in l.select(bin_col).groupBy("bin").count().collect()
        }
        parts = [
            l.filter(F.col("l_orderkey") % 2 == i).select(bin_col)
            .groupBy("bin").count().collect()
            for i in (0, 1)
        ]
        merged: dict = {}
        for part in parts:
            for r in part:
                merged[r["bin"]] = merged.get(r["bin"], 0) + r["count"]
        assert merged == whole


class TestKCorePeel:
    def test_peel_profile_monotone_and_fixpoint(self, spark, sf_dir):
        """Peeling laws (Seidman 1983): the surviving-node count is
        non-increasing round over round, the fixed round budget reaches
        the fixpoint at fixture SFs (converged=True), and the final
        subgraph really is a k-core — every surviving node keeps degree
        >= k among surviving nodes."""
        from pyspark.sql import functions as F

        from form700_etl_spark.operators.graph import stable_co
        from form700_etl_spark.queries.scale import _KCORE_K
        from form700_etl_spark.registry import all_queries

        rows = (
            all_queries()["graph_kcore_peel_profile"]
            .fn(spark, sf_dir)
            .collect()
        )
        counts = [r["nodes_remaining"] for r in sorted(rows, key=lambda r: r["round"])]
        assert all(a >= b for a, b in zip(counts, counts[1:])), counts
        assert all(r["converged"] for r in rows), rows

        # Independent fixpoint replay: peel to convergence (not a fixed
        # round count) and check the invariant degree bound.
        _, adj = stable_co(spark, sf_dir)
        adj_pdf = adj.toPandas()
        import collections

        nbrs: dict = collections.defaultdict(set)
        for w, nbr in zip(adj_pdf["w"], adj_pdf["nbr"]):
            nbrs[w].add(nbr)
        keep = set(nbrs)
        while True:
            drop = {w for w in keep if len(nbrs[w] & keep) < _KCORE_K}
            if not drop:
                break
            keep -= drop
        assert counts[-1] == len(keep), (counts[-1], len(keep))
        assert all(len(nbrs[w] & keep) >= _KCORE_K for w in keep)

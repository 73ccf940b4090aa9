"""ML feature-preparation operators: target encoding, the hashing
trick, equi-depth binning, and exact distributed covariance (the
sufficient statistic for PCA).

The reference (Form700.py) has no feature-engineering surface at all —
these extend the engine toward the training-data-pipeline mandate
(BASELINE.json): turning raw columns into model-ready features is the
step between curation (dedup/quality/sampling, queries/dedup.py,
queries/pipeline_ops.py) and training.

Scale notes
-----------
- Target encoding is one fact-side hash agg per category plus a
  re-aggregation of the category partials for the global prior — the
  raw table is scanned exactly once, and the category table (25 brands
  here) broadcasts trivially at any corpus size.
- The hashing trick is scan-side only: md5 per feature string, modulo
  into a fixed bucket space.  No shuffle, no vocabulary build, no
  driver state — the whole point of feature hashing at 100 TB is that
  the feature space is fixed a priori.
- Equi-depth binning aggregates to VALUE grain first (hash agg), then
  runs the cumulative window over distinct values — never over raw
  rows.  The 9 decile boundaries that fall out would broadcast back
  for assignment at full scale.
- Covariance moments accumulate as 128-bit-exact integers
  (DECIMAL(38,0) / HUGEINT) over e6-quantized inputs, the same
  determinism pattern as stats_exact_correlation: partials merge
  across any partitioning, so one map-side-combined agg produces the
  full d x d sufficient statistic no matter how many executors.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import local_frame, materialize, table
from ..registry import register

# --------------------------------------------------- target encoding

_TENC_M = 1000  # smoothing pseudo-count (prior weight)


@register(
    "feature_target_encode_smoothed",
    oracle=f"""
    WITH rev AS (
        SELECT p.p_brand,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_e4
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    per_brand AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(rev_e4 AS HUGEINT)) AS DOUBLE) AS s
        FROM rev GROUP BY p_brand
    ),
    prior AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS big_n, SUM(s) AS big_s FROM per_brand
    )
    SELECT p_brand, n,
           round((s / n) / 10000, 6) AS mean_revenue,
           round(((s + {_TENC_M} * (big_s / big_n)) / (n + {_TENC_M})) / 10000, 6)
             AS target_enc
    FROM per_brand CROSS JOIN prior
    ORDER BY p_brand
    """,
    tags=("mlprep", "agg"),
    doc=(
        "Smoothed target encoding of p_brand by mean line revenue: "
        "enc = (sum + m*prior) / (n + m) with m=1000 pseudo-counts, the "
        "standard leak-resistant categorical encoder.  Revenue "
        "accumulates as exact integer e4 units (128-bit sums), the "
        "global prior re-aggregates the 25 brand partials (the fact "
        "table is scanned once), and the final blend runs on identical "
        "doubles in both engines."
    ),
)
def feature_target_encode_smoothed(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    rev = l.join(p, l.l_partkey == p.p_partkey).select(
        "p_brand", (pc * (100 - dc)).alias("rev_e4")
    )
    per_brand = materialize(
        rev.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("rev_e4").cast("decimal(38,0)")).cast("double").alias("s"),
        ),
        "feature_target_encode_smoothed brand sums: rows and the global prior",
    )
    glob = per_brand.agg(
        F.sum("n").cast("double").alias("big_n"), F.sum("s").alias("big_s")
    )
    m = float(_TENC_M)
    return (
        per_brand.crossJoin(F.broadcast(glob))
        .select(
            "p_brand",
            "n",
            F.round((F.col("s") / F.col("n")) / 10000, 6).alias("mean_revenue"),
            F.round(
                (
                    (F.col("s") + F.lit(m) * (F.col("big_s") / F.col("big_n")))
                    / (F.col("n") + F.lit(m))
                )
                / 10000,
                6,
            ).alias("target_enc"),
        )
        .orderBy("p_brand")
    )


# ----------------------------------------------------- hashing trick

_HASH_BUCKETS = 64


@register(
    "feature_hash_trick",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               unnest(['lang=' || lang,
                       'source=' || source,
                       'nlen=' || CAST(n_chars // 200 AS VARCHAR)]) AS feature
        FROM documents
    )
    SELECT doc_id, feature,
           CAST(('0x' || substr(md5(feature), 1, 8))::BIGINT % {_HASH_BUCKETS}
                AS BIGINT) AS bucket,
           CAST(1 - 2 * (('0x' || substr(md5(feature), 9, 1))::BIGINT % 2)
                AS BIGINT) AS sign
    FROM feats
    ORDER BY doc_id, feature
    """,
    tags=("mlprep", "hash"),
    doc=(
        "Feature hashing (the hashing trick): each categorical feature "
        "string maps to one of 64 buckets via md5, with a +/-1 sign bit "
        "from the next hex nibble (Weinberger et al. 2009 — the sign "
        "makes collisions unbiased).  Pure scan-side expression work: "
        "no vocabulary, no shuffle, no driver state — the property that "
        "makes feature hashing THE categorical encoder at 100 TB.  md5 "
        "is the engine-portable hash (identical hex in Spark/DuckDB)."
    ),
)
def feature_hash_trick(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(F.lit("lang="), F.col("lang")),
                F.concat(F.lit("source="), F.col("source")),
                F.concat(
                    F.lit("nlen="), F.expr("CAST(n_chars div 200 AS STRING)")
                ),
            )
        ).alias("feature"),
    )
    x = F.conv(F.substring(F.md5("feature"), 1, 8), 16, 10).cast("long")
    nib = F.conv(F.substring(F.md5("feature"), 9, 1), 16, 10).cast("long")
    return feats.select(
        "doc_id",
        "feature",
        (x % _HASH_BUCKETS).alias("bucket"),
        (1 - 2 * (nib % 2)).alias("sign"),
    ).orderBy("doc_id", "feature")


# ------------------------------------------------ equi-depth binning


@register(
    "clean_quantile_bins",
    oracle="""
    WITH vals AS (
        SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v_cents,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS big_n FROM vals),
    cum AS (
        SELECT v_cents, cnt,
               SUM(cnt) OVER (ORDER BY v_cents) AS cum_n
        FROM vals
    )
    SELECT CAST(1 + ((cum_n - cnt) * 10) // big_n AS BIGINT) AS bin,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(MIN(v_cents) AS DOUBLE) / 100 AS lo,
           CAST(MAX(v_cents) AS DOUBLE) / 100 AS hi
    FROM cum CROSS JOIN tot
    GROUP BY 1 ORDER BY bin
    """,
    tags=("mlprep", "window", "profiling"),
    doc=(
        "Equi-depth decile binning of customer account balance: "
        "aggregate to VALUE grain first (one hash agg), run the "
        "cumulative count over distinct values — never raw rows — and "
        "assign bin = rank-of-first-occurrence * 10 / N, so ties always "
        "share a bin (deterministic, unlike row-ntile).  Output is the "
        "10-bin summary (counts + boundaries); at full scale the 9 "
        "boundaries broadcast back to label the fact table.  Exact "
        "integer cents keying makes the value grouping portable."
    ),
)
def clean_quantile_bins(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    vals = materialize(
        c.groupBy(F.round(F.col("c_acctbal") * 100).cast("long").alias("v_cents"))
        .agg(F.count(F.lit(1)).alias("cnt")),
        "clean_quantile_bins value counts: total and the cumulative window",
    )
    tot = vals.agg(F.sum("cnt").alias("big_n"))
    cum = vals.withColumn("cum_n", F.sum("cnt").over(W.orderBy("v_cents")))
    return (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("bin", 1 + F.expr("((cum_n - cnt) * 10) div big_n"))
        .groupBy("bin")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_values"),
            (F.min("v_cents").cast("double") / 100).alias("lo"),
            (F.max("v_cents").cast("double") / 100).alias("hi"),
        )
        .orderBy("bin")
    )


# ------------------------------------- exact covariance (PCA moments)

_PCA_DIMS = 8  # leading dims for the oracle-checked moment matrix


def _cov_pairs_duckdb() -> str:
    """unnest(list of struct_pack) emitting the 36 upper-tri products."""
    entries = []
    for i in range(_PCA_DIMS):
        for j in range(i, _PCA_DIMS):
            entries.append(
                f"struct_pack(i := {i}, j := {j}, p := xq{i} * xq{j})"
            )
    return ", ".join(entries)


def _dim_sums_duckdb() -> str:
    return ", ".join(
        f"struct_pack(i := {i}, x := xq{i})" for i in range(_PCA_DIMS)
    )


_XQ_DUCKDB = ", ".join(
    f"CAST(round(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000) AS BIGINT) AS xq{i}"
    for i in range(_PCA_DIMS)
)


@register(
    "embedding_pca_covariance",
    oracle=f"""
    WITH base AS (
        SELECT {_XQ_DUCKDB} FROM embeddings
    ),
    pairs AS (
        SELECT u.i AS i, u.j AS j, u.p AS p
        FROM base, unnest([{_cov_pairs_duckdb()}]) AS t(u)
    ),
    psums AS (
        SELECT i, j, CAST(SUM(CAST(p AS HUGEINT)) AS DOUBLE) AS s_ij,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM pairs GROUP BY i, j
    ),
    dims AS (
        SELECT u.i AS i, u.x AS x
        FROM base, unnest([{_dim_sums_duckdb()}]) AS t(u)
    ),
    dsums AS (SELECT i, CAST(SUM(x) AS DOUBLE) AS s FROM dims GROUP BY i)
    SELECT p.i, p.j, CAST(p.n AS BIGINT) AS n,
           round(((p.n * p.s_ij - a.s * b.s) / (p.n * p.n)) / 1000000000000, 8)
             AS cov
    FROM psums p JOIN dsums a ON p.i = a.i JOIN dsums b ON p.j = b.i
    ORDER BY p.i, p.j
    """,
    tags=("mlprep", "similarity", "stats"),
    doc=(
        "Exact covariance moment matrix over the leading 8 embedding "
        "dims — the sufficient statistic a distributed PCA reduces to "
        "(operators/pca.py consumes the full-width version).  Inputs "
        "quantize to e6 integers so cross-products accumulate 128-bit-"
        "exact (order/partition independent, unlike float covariance); "
        "one map-side-combined hash agg of 36 upper-triangle products "
        "per row, then the population-covariance formula runs once on "
        "identical doubles.  d^2 grows with width, not rows — at 100 TB "
        "the agg output is still just d(d+1)/2 cells."
    ),
)
def embedding_pca_covariance(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    xq = [
        F.round(F.element_at("embedding", i + 1).cast("double") * 1000000).cast(
            "long"
        )
        for i in range(_PCA_DIMS)
    ]
    # ONE explode carries both the 36 upper-triangle products and the 8
    # per-dim sums (marked j = -1), so the embeddings table is scanned
    # exactly once; the 44-row moment table is checkpointed because the
    # pair rows and both dim-sum join sides all consume it.
    structs = [
        F.struct(
            F.lit(i).alias("i"), F.lit(j).alias("j"), (xq[i] * xq[j]).alias("p")
        )
        for i in range(_PCA_DIMS)
        for j in range(i, _PCA_DIMS)
    ] + [
        F.struct(F.lit(i).alias("i"), F.lit(-1).alias("j"), xq[i].alias("p"))
        for i in range(_PCA_DIMS)
    ]
    sums = materialize(
        e.select(F.explode(F.array(*structs)).alias("u"))
        .select("u.i", "u.j", "u.p")
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("p").cast("decimal(38,0)")).cast("double").alias("s_ij"),
            F.count(F.lit(1)).cast("double").alias("n"),
        ),
        "embedding_pca_covariance sums: pair and diagonal branches",
    )
    psums = sums.filter(F.col("j") >= 0)
    dsums = sums.filter(F.col("j") == -1).select("i", F.col("s_ij").alias("s"))
    a = dsums.alias("a")
    b = dsums.alias("b")
    p = psums.alias("p")
    return (
        p.join(F.broadcast(a), F.col("p.i") == F.col("a.i"))
        .join(F.broadcast(b), F.col("p.j") == F.col("b.i"))
        .select(
            F.col("p.i").alias("i"),
            F.col("p.j").alias("j"),
            F.col("p.n").cast("bigint").alias("n"),
            F.round(
                (
                    (F.col("p.n") * F.col("p.s_ij") - F.col("a.s") * F.col("b.s"))
                    / (F.col("p.n") * F.col("p.n"))
                )
                / 1000000000000,
                8,
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


# ------------------------------------------------- PCA projection

@register(
    "embedding_pca_project",
    oracle=None,  # eigendecomposition is not SQL-expressible; law tests
    # in tests/test_pca.py check orthonormality, variance ordering, and
    # determinism instead.
    tags=("mlprep", "similarity"),
    doc=(
        "Distributed PCA projection to 2 components: mapInPandas "
        "accumulates per-batch Gram partials (n, sum, X^T X) with numpy "
        "— one pass, d^2 floats per partition — the driver eigen-"
        "decomposes the d x d covariance (trivial for d=64), fixes "
        "component signs for determinism, and broadcasts the basis; "
        "projection is a second scan-side matmul.  The classic two-pass "
        "tall-skinny PCA: row count never touches the driver."
    ),
)
def embedding_pca_project(spark, sf_dir):
    from ..operators.pca import pca_project

    return pca_project(table(spark, sf_dir, "embeddings"), k=2)


# ------------------------------------------------- k-means (Lloyd)

_KM_K = 8
_KM_ITERS = 3  # assignment layers; updates run after the first two
_KM_DIMS = 64


def _kmeans_oracle() -> str:
    """Unrolled Lloyd iterations as MATERIALIZED CTE layers (the
    PageRank/k-core oracle pattern): each assignment layer scores every
    point against the previous centroid set and keeps the row_number-1
    row per point; each update layer re-aggregates per-dim sums."""
    layers = []
    prev = "c0"
    for r in range(1, _KM_ITERS + 1):
        layers.append(f"""
    a{r} AS MATERIALIZED (
        SELECT vec_id, j, dist FROM (
            SELECT vec_id, j, dist,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, j) AS rn
            FROM (
                SELECT q.vec_id, c.j,
                       CAST(SUM((c.n * q.xq[CAST(d.i AS INT)]
                                 - c.s[CAST(d.i AS INT)])
                                * (c.n * q.xq[CAST(d.i AS INT)]
                                   - c.s[CAST(d.i AS INT)])) AS DOUBLE)
                         / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE))
                         AS dist
                FROM q CROSS JOIN {prev} c CROSS JOIN dims d
                GROUP BY q.vec_id, c.j, c.n
            )
        ) WHERE rn = 1
    )""")
        if r < _KM_ITERS:
            layers.append(f"""
    cn{r} AS (SELECT j, CAST(COUNT(*) AS BIGINT) AS n
              FROM a{r} GROUP BY j),
    cu{r} AS (
        SELECT a.j, d.i AS i,
               CAST(SUM(q.xq[CAST(d.i AS INT)]) AS BIGINT) AS sd
        FROM a{r} a JOIN q USING (vec_id) CROSS JOIN dims d
        GROUP BY a.j, d.i
    ),
    c{r} AS MATERIALIZED (
        SELECT p.j, COALESCE(u.n, p.n) AS n, COALESCE(u.s, p.s) AS s
        FROM {prev} p LEFT JOIN (
            SELECT cu.j, cn.n, list(cu.sd ORDER BY cu.i) AS s
            FROM cu{r} cu JOIN cn{r} cn USING (j)
            GROUP BY cu.j, cn.n
        ) u ON p.j = u.j
    )""")
            prev = f"c{r}"
    layers_sql = ",".join(layers)
    return f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                 AS xq
        FROM embeddings
    ),
    dims AS (SELECT unnest(range(1, {_KM_DIMS + 1})) AS i),
    c0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j,
               CAST(1 AS BIGINT) AS n, xq AS s
        FROM (SELECT vec_id, xq FROM q ORDER BY vec_id LIMIT {_KM_K})
    ),
    {layers_sql}
    SELECT CAST(j AS BIGINT) AS cluster, CAST(COUNT(*) AS BIGINT) AS size,
           round(SUM(CAST(round(dist) AS BIGINT)) / 1e6, 6) AS inertia
    FROM a{_KM_ITERS} GROUP BY j ORDER BY cluster
    """


@register(
    "embedding_kmeans_lloyd",
    oracle=_kmeans_oracle(),
    tags=("mlprep", "similarity", "iterative"),
    doc=(
        f"Distributed Lloyd k-means (k={_KM_K}, {_KM_ITERS} assignment "
        "rounds, deterministic first-k-by-id init) over the embedding "
        "corpus — the clustering primitive under SemDeDup-style "
        "semantic dedup and domain-mixture curation (Abbas et al. "
        "2023).  Spark-first shape: centroids are BOUNDED state (k x "
        "(1+d) integers), so each round collects them to the driver "
        "and embeds them as literals — assignment is then a pure "
        "SCAN-SIDE expression (zip_with + aggregate over the quantized "
        "vector), exactly MLlib's broadcast-centers pattern: zero "
        "shuffle for assignment, ONE map-side-combined hash agg for "
        "the update, per round.  Exactness: vectors quantize to e3 "
        "integers; centroids stay exact rationals (sum-vector, count) "
        "so distances compare as A_j/n_j^2 on identical doubles with "
        "id tie-break — no float accumulation anywhere; empty clusters "
        "deterministically carry the previous centroid.  Inertia "
        "quantizes per point before the sum.  Oracle replays all "
        "layers as unrolled MATERIALIZED CTEs."
    ),
)
def embedding_kmeans_lloyd(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    q = materialize(
        e.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000).cast("long"),
            ).alias("xq"),
        ),
        "embedding_kmeans_lloyd points: every assignment round and both update aggs",
    )
    init = q.orderBy("vec_id").limit(_KM_K).collect()
    centroids = {
        j: (1, list(r["xq"])) for j, r in enumerate(init)
    }

    def assign(cents):
        # ONE SQL string -> one py4j round trip per round.  The
        # column-object version of this expression (k x d F.lit calls
        # plus zip_with/aggregate lambdas) cost ~1.3 s of pure DRIVER
        # time per round at k=8, d=64 — half this query's wall
        # (measured r15); the generated plan and arithmetic are
        # byte-identical, only the construction path changes.
        structs = []
        for j in sorted(cents):
            n, s = cents[j]
            s_sql = ",".join(str(int(v)) for v in s)
            a_sq = (
                f"aggregate(zip_with(xq, array({s_sql}), "
                f"(x, sv) -> CAST({int(n)} AS BIGINT) * x - sv), "
                f"CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
            )
            structs.append(
                f"named_struct('dist', CAST({a_sq} AS DOUBLE)"
                f" / CAST({int(n) * int(n)} AS DOUBLE),"
                f" 'j', CAST({int(j)} AS BIGINT))"
            )
        m = F.expr(f"array_min(array({','.join(structs)}))")
        return q.select(
            "vec_id", "xq", m["dist"].alias("dist"), m["j"].alias("j")
        )

    # agg columns are position-only expressions — build once, reuse
    # every round (they resolve against each round's frame)
    upd_cols = [F.count(F.lit(1)).cast("long").alias("n")] + [
        F.sum(F.element_at("xq", i + 1)).cast("long").alias(f"s{i}")
        for i in range(_KM_DIMS)
    ]
    assigned = assign(centroids)
    for _ in range(_KM_ITERS - 1):
        upd = assigned.groupBy("j").agg(*upd_cols).collect()
        new = dict(centroids)  # empty clusters carry forward
        for r in upd:
            new[r["j"]] = (r["n"], [r[f"s{i}"] for i in range(_KM_DIMS)])
        centroids = new
        assigned = assign(centroids)
    return (
        assigned.groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("size"),
            F.round(F.sum(F.round("dist").cast("long")) / 1e6, 6).alias(
                "inertia"
            ),
        )
        .select(F.col("j").alias("cluster"), "size", "inertia")
        .orderBy("cluster")
    )


# ------------------------------------- distributed power iteration

_PI_ROUNDS = 12
_PI_DIMS = 64


def _power_iter_oracle() -> str:
    """Unrolled power-iteration layers over the centered second-moment
    operator: each round computes Yv row-wise, z = Y^T(Yv) per dim,
    then renormalizes through the max-scaled e6 grid."""
    layers = []
    prev = "v0"
    for r in range(1, _PI_ROUNDS + 1):
        layers.append(f"""
    yv{r} AS MATERIALIZED (
        SELECT y.vec_id,
               CAST(SUM(y.yd * v.val) AS BIGINT) AS s
        FROM y JOIN {prev} v ON y.i = v.i
        GROUP BY y.vec_id
    ),
    z{r} AS MATERIALIZED (
        SELECT y.i,
               CAST(SUM(CAST(y.yd AS HUGEINT) * yv{r}.s) AS HUGEINT) AS z
        FROM y JOIN yv{r} ON y.vec_id = yv{r}.vec_id
        GROUP BY y.i
    ),
    m{r} AS (SELECT MAX(abs(z)) AS m FROM z{r}),
    sc{r} AS MATERIALIZED (
        SELECT i, CAST(round(1e6 * CAST(z AS DOUBLE)
                             / (SELECT CAST(m AS DOUBLE) FROM m{r}))
                       AS BIGINT) AS s
        FROM z{r}
    ),
    n{r} AS (SELECT sqrt(CAST(SUM(s * s) AS DOUBLE)) AS nrm FROM sc{r}),
    v{r} AS MATERIALIZED (
        SELECT i, CAST(round(1e6 * CAST(s AS DOUBLE)
                             / (SELECT nrm FROM n{r})) AS BIGINT) AS val
        FROM sc{r}
    )""")
        prev = f"v{r}"
    layers_sql = ",".join(layers)
    return f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                 AS xq
        FROM embeddings
    ),
    dims AS (SELECT CAST(unnest(range(1, {_PI_DIMS + 1})) AS INT) AS i),
    stats AS MATERIALIZED (
        SELECT d.i, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q.xq[d.i]) AS BIGINT) AS sd
        FROM q CROSS JOIN dims d GROUP BY d.i
    ),
    y AS MATERIALIZED (
        -- centering cleared of division: yd = n*x - S_d, exact BIGINT
        SELECT q.vec_id, st.i, CAST(st.n * q.xq[st.i] - st.sd AS BIGINT) AS yd
        FROM q CROSS JOIN stats st
    ),
    v0 AS MATERIALIZED (
        SELECT i, CAST(round(1000000.0 / sqrt({_PI_DIMS})) AS BIGINT) AS val
        FROM dims
    ),
    {layers_sql}
    SELECT CAST(i AS BIGINT) AS dim,
           round(CAST(val AS DOUBLE) / 1e6, 6) AS loading
    FROM {prev} ORDER BY dim
    """


@register(
    "embedding_power_iteration_top_pc",
    oracle=_power_iter_oracle(),
    tags=("mlprep", "similarity", "iterative"),
    doc=(
        f"Top principal direction by {_PI_ROUNDS} distributed power-"
        "iteration rounds (von Mises iteration) over the CENTERED "
        "second-moment operator — the fully-distributed complement to "
        "embedding_pca_covariance's Gram-partials + driver-eigh path: "
        "the covariance matrix is never materialized; each round is "
        "two corpus passes (row-wise Yv, then per-dim Y^T(Yv)) that "
        "are plain map-side-combined hash aggs, so the method scales "
        "to widths where the d x d Gram no longer fits anywhere.  "
        "Exactness: centering multiplies through by n (yd = n*x_q - "
        "S_d, exact BIGINT — the ACF trick), per-dim accumulations "
        "ride HUGEINT/decimal(38), and each renormalization quantizes "
        "through a max-scaled e6 grid so every division happens once "
        "on identical doubles.  The d-vector state stays in "
        "DataFrames end-to-end (no driver collect).  Validated "
        "against the eigh path by a cosine-agreement law test."
    ),
)
def embedding_power_iteration_top_pc(spark, sf_dir):
    # ONE distributed pass + an exact driver loop (round 11; was 12
    # distributed rounds x ~4 jobs each).  z = Y^T (Y v) = (Y^T Y) v in
    # EXACT integer arithmetic, so the d x d Gram matrix G = Y^T Y —
    # computed once as a decimal-exact hash aggregate — reproduces the
    # oracle's per-row z for every round by associativity; the 12-round
    # renormalization loop then runs on the driver over O(d^2) state
    # with the engines' shared double semantics replicated exactly
    # (repr-based HALF_UP = Java BigDecimal.valueOf rounding).  At
    # 100 TB this is the sufficient-statistic design: the corpus is
    # scanned once (map-side combine leaves d^2 partials per task) and
    # the iteration costs zero cluster round-trips.  The arithmetic
    # trade (N*d^2 multiply-adds vs 2*N*d per round) favors the Gram
    # form whenever rounds > d/2 is false ONLY on CPU terms — on a
    # cluster the 12 eliminated shuffle+barrier rounds dominate.
    import math
    from decimal import ROUND_HALF_UP, Decimal

    e = table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("xq"),
    )
    exploded = q.select("vec_id", F.posexplode("xq").alias("i0", "x"))
    stats = exploded.groupBy("i0").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sd"),
    )
    y = materialize(
        exploded.join(F.broadcast(stats), "i0")
        .select(
            "vec_id",
            (F.col("i0") + 1).cast("int").alias("i"),
            (F.col("n") * F.col("x") - F.col("sd")).cast("long").alias("yd"),
        ),
        "embedding_power_iteration_top_pc centered rows: both Gram join sides",
    )
    dec = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    gram_rows = (
        y.select("vec_id", F.col("i").alias("gi"), F.col("yd").alias("ya"))
        .join(
            y.select("vec_id", F.col("i").alias("gj"), F.col("yd").alias("yb")),
            "vec_id",
        )
        .where(F.col("gj") >= F.col("gi"))  # G is symmetric: agg the
        .groupBy("gi", "gj")                # upper triangle, mirror below
        .agg(F.sum(dec("ya") * dec("yb")).alias("g"))
        .collect()
    )
    G = {(r.gi, r.gj): int(r.g) for r in gram_rows}
    G.update({(j, i): g for (i, j), g in list(G.items())})
    dims = sorted({i for i, _ in G})

    def jround(x: float) -> int:
        # Spark's round(double) = BigDecimal.valueOf(x).setScale(0,
        # HALF_UP): valueOf goes through Double.toString (shortest
        # round-trip repr), which Python's repr() mirrors — NOT the
        # exact binary expansion Decimal(float) would give.  The
        # shortest-repr guarantee of Double.toString is only exact on
        # JDK 19+ (JDK-4511638 fixed the old excess-digit cases); this
        # repo pins Java 17 where Double.toString can emit a non-shortest
        # repr for a tiny set of doubles, but every value reaching this
        # path is a quantized 1e6-scale ratio whose repr round-trips —
        # revisit if jround inputs ever stop being quantized.
        return int(Decimal(repr(x)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    v = {i: round(1e6 / (_PI_DIMS ** 0.5)) for i in dims}
    for _ in range(_PI_ROUNDS):
        # G.get(..., 0): a dimension pair with no co-occurring vec_id is
        # absent from the collected Gram rows; the old join-based z
        # treated that as an implicit 0 (matters for ragged embeddings)
        z = {i: sum(G.get((i, j), 0) * v[j] for j in dims) for i in dims}
        m = max(abs(zv) for zv in z.values())
        sc = {i: jround(1e6 * float(z[i]) / float(m)) for i in dims}
        nrm = math.sqrt(float(sum(s * s for s in sc.values())))
        v = {i: jround(1e6 * float(sc[i]) / nrm) for i in dims}
    out = local_frame(spark, "i int, val long", sorted(v.items()))
    return out.select(
        F.col("i").cast("long").alias("dim"),
        F.round(F.col("val").cast("double") / 1e6, 6).alias("loading"),
    ).orderBy("dim")


# --------------------------------------- logistic regression (GD)

_LR_ROUNDS = 3

# shared per-row scoring pieces (identical doubles both engines)
_LR_MARGIN = "(w0 + w1 * (x1q / 1e6) + w2 * (x2q / 1e6))"
_LR_P = f"(1.0 / (1.0 + exp(-{_LR_MARGIN})))"


def _lr_oracle() -> str:
    layers = ["w0_t AS (SELECT CAST(0 AS BIGINT) AS w0_e9,"
              " CAST(0 AS BIGINT) AS w1_e9, CAST(0 AS BIGINT) AS w2_e9)"]
    prev = "w0_t"
    for r in range(1, _LR_ROUNDS + 1):
        layers.append(f"""
    g{r} AS (
        SELECT
          CAST(SUM(CAST(round(1e9 * ({_LR_P} - y)) AS BIGINT)) AS BIGINT)
            AS g0,
          CAST(SUM(CAST(round(1e9 * ({_LR_P} - y) * (x1q / 1e6))
                   AS BIGINT)) AS BIGINT) AS g1,
          CAST(SUM(CAST(round(1e9 * ({_LR_P} - y) * (x2q / 1e6))
                   AS BIGINT)) AS BIGINT) AS g2,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT b.*, p.w0_e9 / 1e9 AS w0, p.w1_e9 / 1e9 AS w1,
                     p.w2_e9 / 1e9 AS w2
              FROM base b CROSS JOIN {prev} p)
    ),
    w{r}_t AS (
        SELECT p.w0_e9 - CAST(round(CAST(g.g0 AS DOUBLE) / g.n) AS BIGINT)
                 AS w0_e9,
               p.w1_e9 - CAST(round(CAST(g.g1 AS DOUBLE) / g.n) AS BIGINT)
                 AS w1_e9,
               p.w2_e9 - CAST(round(CAST(g.g2 AS DOUBLE) / g.n) AS BIGINT)
                 AS w2_e9
        FROM {prev} p CROSS JOIN g{r} g
    )""")
        prev = f"w{r}_t"
    layers_sql = ",".join(layers)
    return f"""
    WITH base AS MATERIALIZED (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
               CAST(round(1e6 * o_totalprice / 600000.0) AS BIGINT) AS x1q,
               CAST(round(1e6 * date_diff('day', DATE '1992-01-01',
                                          CAST(o_orderdate AS DATE))
                          / 2500.0) AS BIGINT) AS x2q
        FROM orders
    ),
    {layers_sql},
    final AS (
        SELECT b.y, {_LR_P} AS p
        FROM (SELECT b0.*, w.w0_e9 / 1e9 AS w0, w.w1_e9 / 1e9 AS w1,
                     w.w2_e9 / 1e9 AS w2
              FROM base b0 CROSS JOIN {prev} w) b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n,
           round((SELECT w0_e9 FROM {prev}) / 1e9, 6) AS w0,
           round((SELECT w1_e9 FROM {prev}) / 1e9, 6) AS w1,
           round((SELECT w2_e9 FROM {prev}) / 1e9, 6) AS w2,
           round(CAST(SUM(CAST(round(1e9 * -(y * ln(greatest(p, 1e-12))
                     + (1 - y) * ln(greatest(1 - p, 1e-12)))) AS BIGINT))
                 AS DOUBLE) / COUNT(*) / 1e9, 6) AS logloss
    FROM final
    """


@register(
    "mlprep_logistic_regression_gd",
    oracle=_lr_oracle(),
    tags=("mlprep", "stats", "iterative"),
    doc=(
        f"Logistic regression by {_LR_ROUNDS} full-batch gradient-"
        "descent rounds (predicting URGENT priority from scaled price "
        "+ order age), eta = 1: THE distributed linear-model training "
        "shape — each round is ONE map-side-combined hash agg "
        "producing the 3-component gradient (bounded state), exactly "
        "how large-scale GLM training reduces over a 100 TB fact; the "
        "weight vector stays e9 fixed-point.  Exactness: features "
        "quantize to e6 on scan, per-row gradient terms quantize to "
        "nano-units BEFORE the sum (exact BIGINT accumulation — "
        "order/partition independent, the bane of naive float GD), "
        "weight updates divide once on identical doubles.  Output: "
        "fitted weights + floored log-loss.  Oracle replays every "
        "round as unrolled CTEs."
    ),
)
def mlprep_logistic_regression_gd(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    base = materialize(
        o.select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("y"),
            F.round(1e6 * F.col("o_totalprice") / 600000.0)
            .cast("long")
            .alias("x1q"),
            F.round(
                1e6
                * F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01"))
                / 2500.0
            )
            .cast("long")
            .alias("x2q"),
        ),
        "mlprep_logistic_regression_gd features: every GD round and the loss pass",
    )
    w = (0, 0, 0)  # e9 fixed-point (bounded driver state, like k-means)
    n = None
    for _ in range(_LR_ROUNDS):
        scored = base.select(
            "*",
            F.lit(w[0] / 1e9).alias("w0"),
            F.lit(w[1] / 1e9).alias("w1"),
            F.lit(w[2] / 1e9).alias("w2"),
        )
        g = scored.agg(
            F.sum(F.expr(f"CAST(round(1e9 * ({_LR_P} - y)) AS BIGINT)"))
            .cast("long")
            .alias("g0"),
            F.sum(
                F.expr(
                    f"CAST(round(1e9 * ({_LR_P} - y) * (x1q / 1e6)) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("g1"),
            F.sum(
                F.expr(
                    f"CAST(round(1e9 * ({_LR_P} - y) * (x2q / 1e6)) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("g2"),
            F.count(F.lit(1)).cast("long").alias("n"),
        ).collect()[0]
        n = g["n"]
        # round half AWAY from zero (SQL round in both engines) — the
        # Python builtin is banker's rounding and would diverge on ties
        def _sql_round(x: float) -> int:
            import math

            return int(math.copysign(math.floor(abs(x) + 0.5), x))

        w = tuple(
            w[j] - _sql_round(float(g[f"g{j}"]) / n) for j in range(3)
        )
    final = base.select(
        "y",
        "x1q",
        "x2q",
        F.lit(w[0] / 1e9).alias("w0"),
        F.lit(w[1] / 1e9).alias("w1"),
        F.lit(w[2] / 1e9).alias("w2"),
    ).select("y", F.expr(_LR_P).alias("p"))
    return final.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.lit(w[0] / 1e9), 6).alias("w0"),
        F.round(F.lit(w[1] / 1e9), 6).alias("w1"),
        F.round(F.lit(w[2] / 1e9), 6).alias("w2"),
        F.round(
            F.sum(
                F.expr(
                    "CAST(round(1e9 * -(y * ln(greatest(p, 1e-12))"
                    " + (1 - y) * ln(greatest(1 - p, 1e-12)))) AS BIGINT)"
                )
            ).cast("double")
            / F.count(F.lit(1))
            / 1e9,
            6,
        ).alias("logloss"),
    )


@register(
    "mlprep_decision_stump",
    oracle="""
    WITH s AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT v,
               SUM(cnt) OVER (ORDER BY v) AS n_l,
               SUM(pos) OVER (ORDER BY v) AS pos_l
        FROM s
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS p
        FROM s
    ),
    scored AS (
        SELECT v AS threshold_cents,
               CAST(n_l AS BIGINT) AS n_left,
               CAST(n - n_l AS BIGINT) AS n_right,
               CAST(pos_l AS BIGINT) AS pos_left,
               CAST(p - pos_l AS BIGINT) AS pos_right,
               -- purity mass: (posL^2+negL^2)*nR + (posR^2+negR^2)*nL,
               -- an exact BIGINT; den = nL*nR.  weighted_gini =
               -- 1 - num/(den*N).
               CAST((pos_l * pos_l + (n_l - pos_l) * (n_l - pos_l))
                      * (n - n_l)
                    + ((p - pos_l) * (p - pos_l)
                       + ((n - p) - (n_l - pos_l)) * ((n - p) - (n_l - pos_l)))
                      * n_l AS BIGINT) AS purity_num,
               CAST(n_l * (n - n_l) AS BIGINT) AS purity_den,
               CAST(n AS BIGINT) AS n
        FROM cum CROSS JOIN tot
        WHERE n_l < n
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   ORDER BY CAST(purity_num AS DOUBLE) / purity_den DESC,
                            threshold_cents
               ) AS rk
        FROM scored
    )
    SELECT rk, threshold_cents, n_left, n_right, pos_left, pos_right,
           round(1.0 - CAST(purity_num AS DOUBLE) / purity_den / n, 6)
             AS weighted_gini
    FROM ranked WHERE rk <= 5 ORDER BY rk
    """,
    tags=("mlprep", "stats"),
    doc=(
        "Decision stump / 1R split search: the best 5 thresholds on "
        "event value for predicting event_type='purchase', scored by "
        "weighted Gini impurity — the inner loop of tree induction and "
        "the standard univariate-feature-usefulness screen, run "
        "in-engine.  One hash agg to VALUE grain, one cumulative "
        "window over distinct values (never raw rows), and every "
        "split's class counts fall out of the prefix sums; the purity "
        "mass (posL²+negL²)·nR + (posR²+negR²)·nL stays an exact "
        "BIGINT (< 2^53 through ~30x this fixture — bucket the feature "
        "grain beyond that) so the cross-engine ranking is exact, with "
        "a deterministic threshold tie-break."
    ),
)
def mlprep_decision_stump(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    s = e.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("v")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("pos"),
    )
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = s.select(
        "v",
        F.sum("cnt").over(wv).alias("n_l"),
        F.sum("pos").over(wv).alias("pos_l"),
    )
    tot = s.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    n, p = F.col("n"), F.col("p")
    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    neg_l = n_l - pos_l
    pos_r = p - pos_l
    neg_r = (n - p) - neg_l
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .where(n_l < n)
        .select(
            F.col("v").alias("threshold_cents"),
            n_l.cast("long").alias("n_left"),
            (n - n_l).cast("long").alias("n_right"),
            pos_l.cast("long").alias("pos_left"),
            pos_r.cast("long").alias("pos_right"),
            (
                (pos_l * pos_l + neg_l * neg_l) * (n - n_l)
                + (pos_r * pos_r + neg_r * neg_r) * n_l
            ).cast("long").alias("purity_num"),
            (n_l * (n - n_l)).cast("long").alias("purity_den"),
            n.cast("long").alias("n"),
        )
    )
    rk = F.row_number().over(
        W.orderBy(
            (F.col("purity_num").cast("double") / F.col("purity_den")).desc(),
            "threshold_cents",
        )
    )
    return (
        scored.select("*", rk.alias("rk"))
        .where(F.col("rk") <= 5)
        .select(
            "rk",
            "threshold_cents",
            "n_left",
            "n_right",
            "pos_left",
            "pos_right",
            F.round(
                1.0
                - F.col("purity_num").cast("double")
                / F.col("purity_den")
                / F.col("n"),
                6,
            ).alias("weighted_gini"),
        )
        .orderBy("rk")
    )


@register(
    "mlprep_conformal_intervals",
    oracle="""
    WITH rows_split AS (
        SELECT CAST(l_quantity AS HUGEINT) AS x,
               CAST(round(l_extendedprice * 100) AS HUGEINT) AS y,
               ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                                   || CAST(l_linenumber AS VARCHAR)), 1, 2)
               )::BIGINT % 4 AS bucket
        FROM lineitem
    ),
    model AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n_train,
               CAST(COUNT(*) AS HUGEINT) * SUM(x * y) - SUM(x) * SUM(y)
                 AS slope_num,
               CAST(COUNT(*) AS HUGEINT) * SUM(x * x) - SUM(x) * SUM(x)
                 AS slope_den,
               SUM(y) * (CAST(COUNT(*) AS HUGEINT) * SUM(x * x)
                         - SUM(x) * SUM(x))
                 - (CAST(COUNT(*) AS HUGEINT) * SUM(x * y)
                    - SUM(x) * SUM(y)) * SUM(x) AS icept_num
        FROM rows_split WHERE bucket IN (0, 1)
    ),
    resid AS (
        -- scaled residual R = y*n*den - slope_num*n*x - icept_num:
        -- the exact integer n*den*(y - yhat)
        SELECT bucket,
               abs(y * n_train * slope_den - slope_num * n_train * x
                   - icept_num) AS abs_r
        FROM rows_split CROSS JOIN model WHERE bucket IN (2, 3)
    ),
    calib AS (
        SELECT abs_r, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM resid WHERE bucket = 2 GROUP BY abs_r
    ),
    calib_cum AS (
        SELECT abs_r, SUM(cnt) OVER (ORDER BY abs_r) AS cum,
               SUM(cnt) OVER () AS n_calib
        FROM calib
    ),
    qhat AS (
        SELECT MIN(abs_r) AS q_r,
               CAST(MIN(n_calib) AS BIGINT) AS n_calib
        FROM calib_cum
        WHERE cum >= CAST(ceil((n_calib + 1) * 0.9) AS BIGINT)
    ),
    cover AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN r.abs_r <= q.q_r THEN 1 ELSE 0 END)
                    AS BIGINT) AS covered
        FROM resid r CROSS JOIN qhat q WHERE r.bucket = 3
    )
    SELECT CAST(m.n_train AS BIGINT) AS n_train, q.n_calib, c.n_test,
           round(CAST(m.slope_num AS DOUBLE) / CAST(m.slope_den AS DOUBLE),
                 6) AS slope_cents_per_unit,
           round(CAST(m.icept_num AS DOUBLE)
                 / (CAST(m.n_train AS DOUBLE) * CAST(m.slope_den AS DOUBLE)),
                 6) AS intercept_cents,
           round(CAST(q.q_r AS DOUBLE)
                 / (CAST(m.n_train AS DOUBLE) * CAST(m.slope_den AS DOUBLE)),
                 6) AS q_halfwidth_cents,
           c.covered,
           round(CAST(c.covered AS DOUBLE) / c.n_test, 6) AS test_coverage
    FROM model m CROSS JOIN qhat q CROSS JOIN cover c
    """,
    tags=("mlprep", "stats"),
    doc=(
        "Split conformal prediction (Vovk; Lei et al. 2018): md5-split "
        "lineitem into train/calib/test, fit OLS price~quantity on "
        "train from exact integer moments, take the "
        "ceil((n+1)·0.9)-quantile of |residual| on calib as the "
        "half-width, and report finite-sample test coverage — the "
        "distribution-free uncertainty band a model-serving pipeline "
        "attaches to point predictions.  Residuals stay EXACT integers "
        "by clearing denominators (R = y·n·den − num·n·x − icept_num, "
        "DECIMAL(38)/HUGEINT), the calib quantile is a cumulative "
        "window at |R| grain (clean_quantile_bins pattern; the calib "
        "split is a bounded sample at scale), and the 1-row model "
        "broadcasts to both scoring passes."
    ),
)
def mlprep_conformal_intervals(spark, sf_dir):
    dec = "decimal(38,0)"
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast(dec).alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast(dec).alias("y"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "-",
                            F.col("l_orderkey").cast("string"),
                            F.col("l_linenumber").cast("string"),
                        )
                    ),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("long")
            % 4
        ).alias("bucket"),
    )
    train = li.where(F.col("bucket").isin(0, 1))
    model = train.agg(
        F.count(F.lit(1)).cast(dec).alias("n_train"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("s_xy"),
        F.sum("x").cast(dec).alias("s_x"),
        F.sum("y").cast(dec).alias("s_y"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("s_xx"),
    ).select(
        "n_train",
        (F.col("n_train") * F.col("s_xy") - F.col("s_x") * F.col("s_y"))
        .cast(dec)
        .alias("slope_num"),
        (F.col("n_train") * F.col("s_xx") - F.col("s_x") * F.col("s_x"))
        .cast(dec)
        .alias("slope_den"),
        (
            F.col("s_y")
            * (F.col("n_train") * F.col("s_xx") - F.col("s_x") * F.col("s_x"))
            - (F.col("n_train") * F.col("s_xy") - F.col("s_x") * F.col("s_y"))
            * F.col("s_x")
        )
        .cast(dec)
        .alias("icept_num"),
    )
    # the 1-row model and the calib+test residual split each embed a
    # full lineitem scan in their lineage; both are consumed by
    # multiple downstream branches (resid + the final select; calib +
    # cover), so each materializes ONCE — without the checkpoints the
    # plan re-scans lineitem 4-5x (measured 6.8-9.7 s steady at sf0.1
    # vs ~4 s with them; the resid copy is the bounded calib+test
    # sample, legitimate to pin at any SF)
    model = materialize(model, "mlprep_conformal_intervals model: calibration and test residuals")
    resid = materialize(
        li.where(F.col("bucket").isin(2, 3))
        .crossJoin(F.broadcast(model))
        .select(
            "bucket",
            F.abs(
                (
                    F.col("y") * F.col("n_train") * F.col("slope_den")
                    - F.col("slope_num") * F.col("n_train") * F.col("x")
                    - F.col("icept_num")
                ).cast(dec)
            ).alias("abs_r"),
        ),
        "mlprep_conformal_intervals residuals: calibration quantile and coverage",
    )
    calib = (
        resid.where(F.col("bucket") == 2)
        .groupBy("abs_r")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # |R| grain is a DECIMAL(38) residual domain — data-dependent, so
    # the cumulative count runs on the partitioned two-pass prefix sum
    # (operators/prefix.py), never a single-partition window; the
    # calib total is a benign 1-row global agg broadcast to the scan
    # (r15, closing the weakest _SINGLE_PARTITION_WINDOW_OK entry).
    from ..operators.prefix import partitioned_prefix_sum

    # with_totals rides the calib total (SUM(cnt) OVER () — the oracle's
    # n_calib) on the prefix sum's own <= 32-row fix-up aggregate, so the
    # r15 shape's extra full pass over calib_cum (agg(max(cum_cnt)) +
    # crossJoin) disappears: one window pass computes the cumulative
    # count AND the quantile threshold's denominator (guide §2.4)
    calib_cum = partitioned_prefix_sum(
        calib, ["abs_r"], sum_cols=["cnt"], with_totals=True
    )
    qhat = (
        calib_cum.where(
            F.col("cum_cnt")
            >= F.ceil((F.col("tot_cnt") + 1) * 0.9).cast("long")
        )
        .agg(
            F.min("abs_r").alias("q_r"),
            F.min("tot_cnt").cast("long").alias("n_calib"),
        )
    )
    cover = (
        resid.where(F.col("bucket") == 3)
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("abs_r") <= F.col("q_r"), 1).otherwise(0)
            )
            .cast("long")
            .alias("covered"),
        )
    )
    nd = F.col("n_train").cast("double")
    dend = F.col("slope_den").cast("double")
    return (
        model.crossJoin(qhat)
        .crossJoin(cover)
        .select(
            F.col("n_train").cast("long").alias("n_train"),
            "n_calib",
            "n_test",
            F.round(F.col("slope_num").cast("double") / dend, 6).alias(
                "slope_cents_per_unit"
            ),
            F.round(
                F.col("icept_num").cast("double") / (nd * dend), 6
            ).alias("intercept_cents"),
            F.round(
                F.col("q_r").cast("double") / (nd * dend), 6
            ).alias("q_halfwidth_cents"),
            "covered",
            F.round(
                F.col("covered").cast("double") / F.col("n_test"), 6
            ).alias("test_coverage"),
        )
    )


@register(
    "mlprep_woe_iv",
    oracle="""
    WITH labeled AS (
        SELECT least(9, CAST(floor(o_totalprice / 50000) AS BIGINT)) AS band,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    bands AS (
        SELECT band,
               CAST(SUM(y) AS BIGINT) AS good,
               CAST(SUM(1 - y) AS BIGINT) AS bad
        FROM labeled GROUP BY band
    ),
    tot AS (
        SELECT CAST(SUM(good) AS BIGINT) AS g_tot,
               CAST(SUM(bad) AS BIGINT) AS b_tot
        FROM bands
    ),
    scored AS (
        SELECT band, good, bad,
               -- smoothed WoE in integer nano-nats: the ln argument is
               -- one exact-integer ratio evaluated as a double
               CAST(round(1e9 * ln(
                   (CAST((2 * good + 1) AS DOUBLE) * b_tot)
                   / (CAST((2 * bad + 1) AS DOUBLE) * g_tot))) AS BIGINT)
                 AS woe_nano,
               g_tot, b_tot
        FROM bands CROSS JOIN tot
    ),
    terms AS (
        SELECT band, good, bad, woe_nano,
               CAST(round((CAST(good AS DOUBLE) / g_tot
                           - CAST(bad AS DOUBLE) / b_tot)
                          * woe_nano) AS BIGINT) AS iv_nano
        FROM scored
    ),
    iv AS (SELECT CAST(SUM(iv_nano) AS BIGINT) AS iv_nano_tot FROM terms)
    SELECT t.band, t.good, t.bad,
           round(t.woe_nano / 1e9, 6) AS woe,
           round(i.iv_nano_tot / 1e9, 6) AS iv_total
    FROM terms t CROSS JOIN iv i
    ORDER BY t.band
    """,
    tags=("mlprep", "stats"),
    doc=(
        "Weight of Evidence / Information Value per price band for "
        "predicting urgent priority — the credit-scoring feature "
        "screen (Siddiqi 2006) that ranks a feature's separating power "
        "before any model training.  One hash agg to band grain, "
        "broadcast totals, and the JS-divergence quantization "
        "discipline: each band's smoothed WoE rounds to integer "
        "nano-nats, each IV term quantizes BEFORE the sum, so the "
        "total IV is an order-free integer sum that replays cell-exact "
        "on both engines."
    ),
)
def mlprep_woe_iv(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    labeled = o.select(
        F.least(F.lit(9), F.floor(F.col("o_totalprice") / 50000))
        .cast("long")
        .alias("band"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    bands = labeled.groupBy("band").agg(
        F.sum("y").cast("long").alias("good"),
        F.sum(1 - F.col("y")).cast("long").alias("bad"),
    )
    tot = bands.agg(
        F.sum("good").cast("long").alias("g_tot"),
        F.sum("bad").cast("long").alias("b_tot"),
    )
    scored = bands.crossJoin(F.broadcast(tot)).select(
        "band",
        "good",
        "bad",
        "g_tot",
        "b_tot",
        F.round(
            F.lit(1e9)
            * F.log(
                ((2 * F.col("good") + 1).cast("double") * F.col("b_tot"))
                / ((2 * F.col("bad") + 1).cast("double") * F.col("g_tot"))
            )
        )
        .cast("long")
        .alias("woe_nano"),
    )
    terms = scored.select(
        "band",
        "good",
        "bad",
        "woe_nano",
        F.round(
            (
                F.col("good").cast("double") / F.col("g_tot")
                - F.col("bad").cast("double") / F.col("b_tot")
            )
            * F.col("woe_nano")
        )
        .cast("long")
        .alias("iv_nano"),
    )
    iv = terms.agg(F.sum("iv_nano").cast("long").alias("iv_nano_tot"))
    return (
        terms.crossJoin(F.broadcast(iv))
        .select(
            "band",
            "good",
            "bad",
            F.round(F.col("woe_nano") / 1e9, 6).alias("woe"),
            F.round(F.col("iv_nano_tot") / 1e9, 6).alias("iv_total"),
        )
        .orderBy("band")
    )


@register(
    "mlprep_calibration_brier",
    oracle="""
    WITH split AS (
        SELECT CAST(strftime(ts, '%H') AS BIGINT) AS hr,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2))::BIGINT
                 % 2 AS fold
        FROM events
    ),
    train AS (
        SELECT hr, CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(y) AS BIGINT) AS k1
        FROM split WHERE fold = 0 GROUP BY hr
    ),
    test AS (
        SELECT hr, CAST(COUNT(*) AS BIGINT) AS n_t,
               CAST(SUM(y) AS BIGINT) AS k_t
        FROM split WHERE fold = 1 GROUP BY hr
    ),
    joined AS (
        SELECT t.hr, tr.n1, tr.k1, t.n_t, t.k_t,
               -- per-hour Brier mass: sum over test rows of (p - y)^2
               -- with p = k1/n1 constant per hour; expanded to the
               -- exact integer (n_t*k1^2 - 2*k1*n1*k_t + k_t*n1^2)
               -- over n1^2, quantized to nano BEFORE the corpus sum
               CAST(round(1e9 * (CAST(t.n_t * tr.k1 * tr.k1
                                      - 2 * tr.k1 * tr.n1 * t.k_t
                                      + t.k_t * tr.n1 * tr.n1 AS DOUBLE)
                                 / (CAST(tr.n1 AS DOUBLE) * tr.n1)))
                    AS BIGINT) AS brier_nano
        FROM test t JOIN train tr ON tr.hr = t.hr
    ),
    tot AS (
        SELECT CAST(SUM(brier_nano) AS BIGINT) AS b_nano,
               CAST(SUM(n_t) AS BIGINT) AS n_all
        FROM joined
    )
    SELECT j.hr, j.n1 AS n_train, j.n_t AS n_test,
           round(CAST(j.k1 AS DOUBLE) / j.n1, 6) AS rate_pred,
           round(CAST(j.k_t AS DOUBLE) / j.n_t, 6) AS rate_obs,
           round(t.b_nano / 1e9 / t.n_all, 6) AS brier_total
    FROM joined j CROSS JOIN tot t
    ORDER BY j.hr
    """,
    tags=("mlprep", "stats"),
    doc=(
        "Calibration / reliability table + Brier score: the md5-train "
        "fold's per-hour purchase rate is the predicted probability, "
        "the held-out fold supplies outcomes, and each hour row "
        "compares rate_pred vs rate_obs (the reliability diagram a "
        "model monitor plots) with the corpus Brier score alongside.  "
        "Since p is constant per hour, the test-fold squared error "
        "expands to one exact integer per hour — quantized to nano "
        "units BEFORE the order-free corpus sum — so Brier replays "
        "cell-exact.  Two hash aggs to hour grain + one broadcast "
        "join; no per-row float path."
    ),
)
def mlprep_calibration_brier(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    split = e.select(
        F.date_format("ts", "HH").cast("long").alias("hr"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 2),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("fold"),
    )
    train = (
        split.where(F.col("fold") == 0)
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n1"),
            F.sum("y").cast("long").alias("k1"),
        )
    )
    test = (
        split.where(F.col("fold") == 1)
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_t"),
            F.sum("y").cast("long").alias("k_t"),
        )
    )
    joined = test.join(train, "hr").select(
        "hr",
        "n1",
        "k1",
        "n_t",
        "k_t",
        F.round(
            F.lit(1e9)
            * (
                (
                    F.col("n_t") * F.col("k1") * F.col("k1")
                    - 2 * F.col("k1") * F.col("n1") * F.col("k_t")
                    + F.col("k_t") * F.col("n1") * F.col("n1")
                ).cast("double")
                / (F.col("n1").cast("double") * F.col("n1"))
            )
        )
        .cast("long")
        .alias("brier_nano"),
    )
    tot = joined.agg(
        F.sum("brier_nano").cast("long").alias("b_nano"),
        F.sum("n_t").cast("long").alias("n_all"),
    )
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "hr",
            F.col("n1").alias("n_train"),
            F.col("n_t").alias("n_test"),
            F.round(F.col("k1").cast("double") / F.col("n1"), 6).alias(
                "rate_pred"
            ),
            F.round(F.col("k_t").cast("double") / F.col("n_t"), 6).alias(
                "rate_obs"
            ),
            F.round(F.col("b_nano") / 1e9 / F.col("n_all"), 6).alias(
                "brier_total"
            ),
        )
        .orderBy("hr")
    )


# md5-derived 16-bit uniform for the (orderkey, linenumber) row key —
# the split_kfold_assignment hash rule applied to the fact grain.
_LKEY = "CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)"
_LH4 = (
    f"((strpos('0123456789abcdef', substr(md5({_LKEY}), 1, 1)) - 1) * 4096"
    f" + (strpos('0123456789abcdef', substr(md5({_LKEY}), 2, 1)) - 1) * 256"
    f" + (strpos('0123456789abcdef', substr(md5({_LKEY}), 3, 1)) - 1) * 16"
    f" + (strpos('0123456789abcdef', substr(md5({_LKEY}), 4, 1)) - 1))"
)


@register(
    "feature_target_encode_oof",
    oracle=f"""
    WITH rev AS (
        SELECT p.p_brand,
               CAST({_LH4} % 5 AS INT) AS fold,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_e4
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    cells AS (
        SELECT p_brand, fold, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(rev_e4 AS HUGEINT)) AS DOUBLE) AS s
        FROM rev GROUP BY 1, 2
    ),
    tot AS (
        SELECT p_brand, fold, n, s,
               SUM(n) OVER (PARTITION BY p_brand) AS bn,
               SUM(s) OVER (PARTITION BY p_brand) AS bs
        FROM cells
    ),
    prior AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS big_n, SUM(s) AS big_s FROM cells
    )
    SELECT p_brand, fold, CAST(bn - n AS BIGINT) AS n_oof,
           round(((bs - s + {_TENC_M} * (big_s / big_n))
                  / (CAST(bn - n AS DOUBLE) + {_TENC_M})) / 10000, 6)
             AS target_enc_oof
    FROM tot CROSS JOIN prior
    ORDER BY p_brand, fold
    """,
    tags=("mlprep", "agg", "splits"),
    doc=(
        "K-fold out-of-fold target encoding (the leakage-free variant "
        "of feature_target_encode_smoothed): a row in fold f is encoded "
        "by the smoothed revenue mean of its brand computed WITHOUT "
        "fold f — enc_f = (S_b - S_bf + m*prior)/(n_b - n_bf + m) — so "
        "no training row ever sees its own target, the encoding every "
        "gradient-boosting pipeline actually ships.  Folds come from "
        "the same retry-stable md5 row hash as split_kfold_assignment "
        "(scan-side, partitioning-independent).  ONE fact-scan hash agg "
        "builds the (brand, fold) cells; brand totals are a window over "
        "the 125-row cell table, never a second scan; revenue "
        "accumulates as exact integer e4 units in 128-bit sums and the "
        "blend runs on identical doubles in both engines."
    ),
)
def feature_target_encode_oof(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    h = F.md5((F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string"))
    u16 = F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    rev = l.join(p, l.l_partkey == p.p_partkey).select(
        "p_brand",
        (u16 % 5).cast("int").alias("fold"),
        (pc * (100 - dc)).alias("rev_e4"),
    )
    cells = materialize(
        rev.groupBy("p_brand", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("rev_e4").cast("decimal(38,0)")).cast("double").alias("s"),
        ),
        "feature_target_encode_oof brand sums: brand window and global prior",
    )
    wb = W.partitionBy("p_brand")
    tot = cells.select(
        "p_brand",
        "fold",
        "n",
        "s",
        F.sum("n").over(wb).alias("bn"),
        F.sum("s").over(wb).alias("bs"),
    )
    prior = cells.agg(
        F.sum("n").cast("double").alias("big_n"), F.sum("s").alias("big_s")
    )
    m = float(_TENC_M)
    return (
        tot.crossJoin(F.broadcast(prior))
        .select(
            "p_brand",
            "fold",
            (F.col("bn") - F.col("n")).cast("long").alias("n_oof"),
            F.round(
                (
                    (F.col("bs") - F.col("s") + m * (F.col("big_s") / F.col("big_n")))
                    / ((F.col("bn") - F.col("n")).cast("double") + m)
                )
                / 10000,
                6,
            ).alias("target_enc_oof"),
        )
        .orderBy("p_brand", "fold")
    )


@register(
    "mlprep_isotonic_calibration",
    oracle="""
    WITH split AS (
        SELECT CAST(strftime(ts, '%H') AS BIGINT) AS hr,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2))::BIGINT
                 % 2 AS fold
        FROM events
    ),
    train AS (
        SELECT hr, CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(y) AS BIGINT) AS k1
        FROM split WHERE fold = 0 GROUP BY hr
    ),
    test AS (
        SELECT hr, CAST(COUNT(*) AS BIGINT) AS n_t,
               CAST(SUM(y) AS BIGINT) AS k_t
        FROM split WHERE fold = 1 GROUP BY hr
    ),
    pos AS (
        SELECT t.hr, tr.n1, tr.k1, t.n_t, t.k_t,
               row_number() OVER (
                   ORDER BY CAST(tr.k1 AS DOUBLE) / tr.n1, t.hr
               ) AS r
        FROM test t JOIN train tr ON tr.hr = t.hr
    ),
    pre AS (
        SELECT hr, n1, k1, n_t, k_t, r,
               SUM(n_t) OVER (ORDER BY r) AS cn,
               SUM(k_t) OVER (ORDER BY r) AS ck
        FROM pos
    ),
    iv AS (
        SELECT a.r AS i, b.r AS j,
               CAST(b.ck - COALESCE(a2.ck, 0) AS DOUBLE)
                 / CAST(b.cn - COALESCE(a2.cn, 0) AS DOUBLE) AS avg_ij
        FROM pre a
        JOIN pre b ON a.r <= b.r
        LEFT JOIN pre a2 ON a2.r = a.r - 1
    ),
    inner_min AS (
        SELECT p.r, v.i, MIN(v.avg_ij) AS m
        FROM pre p JOIN iv v ON v.i <= p.r AND v.j >= p.r
        GROUP BY p.r, v.i
    ),
    fit AS (
        SELECT r, MAX(m) AS iso FROM inner_min GROUP BY r
    )
    SELECT p.hr, p.n_t AS n_test,
           round(CAST(p.k1 AS DOUBLE) / p.n1, 6) AS rate_pred,
           round(CAST(p.k_t AS DOUBLE) / p.n_t, 6) AS rate_obs,
           round(f.iso, 6) AS rate_isotonic
    FROM pre p JOIN fit f ON p.r = f.r
    ORDER BY p.hr
    """,
    tags=("mlprep", "stats"),
    doc=(
        "Isotonic (PAVA) calibration of the mlprep_calibration_brier "
        "probabilities: held-out per-hour conversion rates, re-ordered "
        "by the train-fold prediction, are replaced by the best "
        "monotone non-decreasing fit — the standard post-hoc "
        "calibrator when Platt's sigmoid is too rigid (Zadrozny & "
        "Elkan 2002).  Instead of the sequential pool-adjacent-"
        "violators walk, the fit uses the minimax identity iso(p) = "
        "max_{{i<=p}} min_{{j>=p}} avg(i..j) (Ayer et al. 1955) over "
        "weighted interval averages from prefix sums — pure joins and "
        "aggs on the 24-point CALIBRATION GRAIN, so the corpus-scale "
        "work is exactly the one events hash agg and the O(k^3) "
        "enumeration touches 24^3 tiny rows.  Interval averages are "
        "ratios of exact BIGINT sums evaluated identically in both "
        "engines."
    ),
)
def mlprep_isotonic_calibration(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    split = e.select(
        F.hour("ts").cast("long").alias("hr"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 2), 16, 10)
            .cast("bigint")
            % 2
        ).alias("fold"),
    )
    train = (
        split.filter(F.col("fold") == 0)
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n1"),
            F.sum("y").cast("long").alias("k1"),
        )
    )
    test = (
        split.filter(F.col("fold") == 1)
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_t"),
            F.sum("y").cast("long").alias("k_t"),
        )
    )
    pos = train.join(test, "hr").withColumn(
        "r",
        F.row_number().over(
            W.orderBy(F.col("k1").cast("double") / F.col("n1"), "hr")
        ),
    )
    # 24-row calibration grain from here down; the single-partition
    # windows and the O(k^3) interval enumeration never touch the corpus.
    pre = materialize(
        pos.select(
            "hr",
            "n1",
            "k1",
            "n_t",
            "k_t",
            "r",
            F.sum("n_t").over(W.orderBy("r")).alias("cn"),
            F.sum("k_t").over(W.orderBy("r")).alias("ck"),
        ),
        "mlprep_isotonic_calibration prefix sums: the three interval sides",
    )
    a = pre.select(F.col("r").alias("i"), F.col("cn").alias("cn_i"), F.col("ck").alias("ck_i"))
    a2 = pre.select((F.col("r") + 1).alias("i"), F.col("cn").alias("cn_p"), F.col("ck").alias("ck_p"))
    b = pre.select(F.col("r").alias("j"), F.col("cn").alias("cn_j"), F.col("ck").alias("ck_j"))
    iv = (
        a.join(b, F.col("i") <= F.col("j"))
        .join(a2.withColumnRenamed("i", "i2"), F.col("i2") == F.col("i"), "left")
        .select(
            "i",
            "j",
            (
                (F.col("ck_j") - F.coalesce(F.col("ck_p"), F.lit(0))).cast("double")
                / (F.col("cn_j") - F.coalesce(F.col("cn_p"), F.lit(0))).cast("double")
            ).alias("avg_ij"),
        )
    )
    p = pre.select(F.col("r").alias("rp"))
    inner_min = (
        p.join(iv, (F.col("i") <= F.col("rp")) & (F.col("j") >= F.col("rp")))
        .groupBy("rp", "i")
        .agg(F.min("avg_ij").alias("m"))
    )
    fit = inner_min.groupBy("rp").agg(F.max("m").alias("iso"))
    return (
        pre.join(fit, pre.r == fit.rp)
        .select(
            "hr",
            F.col("n_t").alias("n_test"),
            F.round(F.col("k1").cast("double") / F.col("n1"), 6).alias("rate_pred"),
            F.round(F.col("k_t").cast("double") / F.col("n_t"), 6).alias("rate_obs"),
            F.round("iso", 6).alias("rate_isotonic"),
        )
        .orderBy("hr")
    )

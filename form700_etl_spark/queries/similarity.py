"""Similarity search over the ``embeddings`` table (build plan M5).

Cosine math is done in DOUBLE end to end (the float32 vectors are
promoted first) with a sequential fold, so Spark and DuckDB produce
bit-identical similarities; ranking keys round to 6 decimals with a
vec_id tie-break for full determinism.

The ANN queries are thin callers of ``operators/similarity.py`` (one
copy of each step: the cosine, the bucket, the per-query top-k window,
the k-means and block-scoring kernels); ``_probe_sides`` builds the
every-50th-vector query side and the corpus side they share.

Scale design (100 TB / billions of vectors):
- brute-force top-k: O(Q*N) — kept as the exactness baseline; at scale
  Q is a small broadcast side, so the plan is a broadcast
  nested-loop + per-partition partial top-k (TakeOrderedAndProject),
  no shuffle of the big side.
- sign-bit LSH: hyperplane-sign buckets (here: the signs of 8 fixed
  dims) shrink the candidate set to one bucket; the same plan shape
  holds for learned IVF centroids (bucket id = argmin centroid).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import fan_out, materialize, table
from ..operators.graph import components_sql
from ..operators.similarity import cosine as _cosine
from ..operators.similarity import dot as _dot
from ..operators.similarity import (
    ivf_topk,
    lsh_multiprobe_topk,
    pq_topk,
    rank_topk,
    signbit_bucket,
    topk_neighbors,
    topk_neighbors_matmul,
    vec_double as _vec_double,
)
from ..registry import register

_COS_SQL = """
    round(
        list_dot_product(a.vec, b.vec)
        / sqrt(list_dot_product(a.vec, a.vec))
        / sqrt(list_dot_product(b.vec, b.vec)), 6)
"""

_VEC_DOUBLE_SQL = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _probe_sides(spark, sf_dir):
    """(queries, corpus) of the ANN operators: every 50th vector as
    (query_id, qvec) against the whole table as (neighbor_id, nvec)."""
    v = table(spark, sf_dir, "embeddings").select("vec_id", _vec_double().alias("vec"))
    q = v.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    cand = v.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec"))
    return q, cand


@register(
    "ann_ivf_topk",
    oracle=None,  # ANN with approximate recall: rows-only; recall tested vs exact
    tags=("similarity", "topk", "ivf"),
    doc=(
        "IVF ANN: sample-trained Lloyd k-means centroids (10 clusters, "
        "farthest-point init, 8 iterations on a driver-side hash sample), "
        "corpus bucketed by nearest centroid, 3-probe search with exact "
        "rerank — scans ~30% of the corpus per query.  Fixture recall is "
        "bounded by the scanned fraction (noise-driven neighbor structure; "
        "see ANN_EVAL.json fixture_diagnosis/clustered_crossover for when "
        "IVF beats the exact matmul scan)."
    ),
)
def ann_ivf_topk(spark, sf_dir):
    return ivf_topk(*_probe_sides(spark, sf_dir), k=5, n_centroids=10, n_probe=3)


@register(
    "ann_cosine_topk_matmul",
    oracle=None,  # numpy pairwise summation differs in final ulps: rows-only
    tags=("similarity", "topk", "pandas-udf"),
    doc=(
        "Arrow-vectorized brute-force top-5 (numpy matmul per batch + partial "
        "top-k): the pandas-UDF fast path; neighbor-set agreement with the "
        "exact JVM plan is asserted in tests."
    ),
)
def ann_cosine_topk_matmul(spark, sf_dir):
    return topk_neighbors_matmul(*_probe_sides(spark, sf_dir), k=5)


@register(
    "ann_cosine_topk_bruteforce",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_VEC_DOUBLE_SQL} AS vec FROM embeddings),
    sims AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
               {_COS_SQL} AS cosine
        FROM v a JOIN v b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, neighbor_label, cosine
    FROM ranked WHERE rk <= 5
    """,
    tags=("similarity", "topk"),
    doc="Exact cosine top-5 neighbors for the query subset (brute-force baseline).",
)
def ann_cosine_topk_bruteforce(spark, sf_dir):
    v = table(spark, sf_dir, "embeddings").select("vec_id", "label", _vec_double().alias("vec"))
    q = v.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    cand = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("vec").alias("nvec"),
    )
    return topk_neighbors(q, cand, k=5).select(
        "query_id", "rk", "neighbor_id", "neighbor_label", "cosine"
    )


_BUCKET_SQL = (
    "("
    + " + ".join(f"CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END" for i in range(8))
    + ")"
)


@register(
    "ann_lsh_signbit_topk",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, {_VEC_DOUBLE_SQL} AS vec,
               CAST({_BUCKET_SQL} AS INT) AS bucket
        FROM embeddings
    ),
    sims AS (
        SELECT a.vec_id AS query_id, a.bucket, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cosine
        FROM v a JOIN v b
          ON bit_count(xor(CAST(a.bucket AS BIGINT), CAST(b.bucket AS BIGINT))) <= 3
         AND a.vec_id <> b.vec_id
        WHERE a.vec_id % 50 = 0
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, bucket, CAST(rk AS INT) AS rk, neighbor_id, cosine
    FROM ranked WHERE rk <= 3
    """,
    tags=("similarity", "lsh"),
    doc=(
        "Multi-probe sign-bit LSH ANN (Lv et al., VLDB 2007): 8 "
        "hyperplane-sign bits bucket the space; each query probes every "
        "bucket within Hamming radius 3 (93 of 256 — the broadcast side "
        "explodes, the corpus side stays an equi-join on its one bucket), "
        "exact rerank inside.  Measured recall@3 0.65 at 36% scan on the "
        "fixture; a single-probe search returned ZERO true neighbors "
        "there (weakly-separated vectors, per-bit agreement ~0.62), so "
        "the operator fixes the radius at 3 (PROBE_RADIUS)."
    ),
)
def ann_lsh_signbit_topk(spark, sf_dir):
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec_double().alias("vec"), signbit_bucket().alias("bucket")
    )
    q = v.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("bucket"), F.col("vec").alias("qvec")
    )
    cand = v.select(
        F.col("vec_id").alias("neighbor_id"), F.col("bucket").alias("nbucket"), F.col("vec").alias("nvec")
    )
    return lsh_multiprobe_topk(q, cand, k=3).select(
        "query_id", "bucket", "rk", "neighbor_id", "cosine"
    )


@register(
    "embedding_label_stats",
    oracle=f"""
    WITH v AS (
        SELECT label, sqrt(list_dot_product({_VEC_DOUBLE_SQL}, {_VEC_DOUBLE_SQL})) AS norm
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           round(MIN(norm), 6) AS min_norm,
           round(MAX(norm), 6) AS max_norm
    FROM v GROUP BY label
    """,
    tags=("similarity", "agg"),
    doc="Per-label vector-norm stats (embedding-space health check).",
)
def embedding_label_stats(spark, sf_dir):
    v = table(spark, sf_dir, "embeddings").select(
        "label", F.sqrt(_dot(_vec_double(), _vec_double())).alias("norm")
    )
    return v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
    )


# Near-dup cosine threshold shared by dedup_embedding_near and
# dedup_semantic_clusters.  0.35 sits above the same-label cosine mode
# of the fixture's cluster geometry (signal/noise ~ 0.2) but below the
# near-identical band, so the screen yields a real residue at every SF
# (the original 0.5 returned zero pairs at sf <= 0.1 — an always-empty
# screen verifies nothing).
_NEAR_COS = 0.35


@register(
    "dedup_embedding_near",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, {_VEC_DOUBLE_SQL} AS vec,
               CAST({_BUCKET_SQL} AS INT) AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS vec1, b.vec_id AS vec2, {_COS_SQL} AS cosine
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= {_NEAR_COS}
    """,
    tags=("similarity", "dedup"),
    doc=(
        "Embedding near-duplicate pairs: sign-bit-bucket blocking, exact cosine "
        f"verify >= {_NEAR_COS} inside each bucket (only same-bucket pairs are compared)."
    ),
)
def dedup_embedding_near(spark, sf_dir):
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_double().alias("vec"), signbit_bucket().alias("bucket")
    )
    a = v.select(F.col("vec_id").alias("vec1"), F.col("vec").alias("v1"), "bucket")
    b = v.select(F.col("vec_id").alias("vec2"), F.col("vec").alias("v2"), F.col("bucket").alias("b2"))
    return (
        a.join(b, (F.col("bucket") == F.col("b2")) & (F.col("vec1") < F.col("vec2")))
        .select("vec1", "vec2", _cosine(F.col("v1"), F.col("v2")).alias("cosine"))
        .filter(F.col("cosine") >= _NEAR_COS)
    )


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, {_VEC_DOUBLE_SQL} AS vec FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, label,
               list_max(list_transform(vec, x -> abs(x))) AS scale,
               vec
        FROM v
    ),
    q AS (
        SELECT vec_id, label, scale,
               list_transform(vec, x -> round(x * 127.0 / scale)) AS codes,
               vec
        FROM scaled WHERE scale > 0
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           round(AVG(round(scale, 6)), 6) AS avg_scale,
           round(AVG(round(
               sqrt(list_sum(list_transform(
                   list_zip(vec, codes),
                   p -> (p[1] - p[2] * scale / 127.0)
                        * (p[1] - p[2] * scale / 127.0))))
               , 6)), 6) AS avg_recon_l2
    FROM q GROUP BY label
    """,
    tags=("similarity", "pipeline"),
    doc=(
        "Scalar int8 quantization of the embedding column (max-abs "
        "per-vector scale -> 127 levels), audited as per-label count, "
        "mean scale and mean L2 reconstruction error.  4x storage "
        "shrink is what makes a billion-vector corpus fit hot storage; "
        "all array math is higher-order built-ins so the codec stays "
        "JVM-side.  Inner round(.,6) before the cross-engine AVG keeps "
        "the float fold bit-identical."
    ),
)
def embedding_quantize_int8(spark, sf_dir):
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec_double().alias("vec")
    )
    scale = F.array_max(F.transform("vec", lambda x: F.abs(x)))
    scaled = v.withColumn("scale", scale).filter(F.col("scale") > 0)
    codes = F.transform("vec", lambda x: F.round(x * 127.0 / F.col("scale")))
    q = scaled.withColumn("codes", codes)
    err2 = F.zip_with(
        "vec", "codes", lambda x, c: (x - c * F.col("scale") / 127.0) ** 2
    )
    recon = F.round(F.sqrt(F.aggregate(err2, F.lit(0.0), lambda a, x: a + x)), 6)
    return q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg(F.round("scale", 6)), 6).alias("avg_scale"),
        F.round(F.avg(recon), 6).alias("avg_recon_l2"),
    )


@register(
    "ann_pq_topk",
    oracle=None,  # approximate-recall ANN: rows-only; recall tested vs exact
    tags=("similarity", "topk", "pq"),
    doc=(
        "Product-quantization ANN (Jégou et al. 2011): codebooks trained "
        "on a bounded hash-ordered sample, corpus encoded to 8 uint8 codes "
        "per vector (32x memory compression of the scan side), asymmetric-"
        "distance candidate scan via broadcast lookup tables, exact-cosine "
        "rerank of the shortlist.  The memory-bound ANN path complementing "
        "IVF's compute-bound one."
    ),
)
def ann_pq_topk(spark, sf_dir):
    return pq_topk(*_probe_sides(spark, sf_dir), k=5, n_codes=32, rerank=16)


# --------------------------------------------- random projection (JL)
#
# Johnson-Lindenstrauss dimensionality reduction with a +/-1 projection
# matrix (Achlioptas 2003: database-friendly random projections — sign
# matrices preserve pairwise distances in expectation like Gaussians).
# The matrix is a FIXED PUBLIC constant derived from md5 so both
# engines embed identical sign literals; inputs are quantized to
# integer micro-units first, so every intermediate sum is integer-exact
# (< 2^53) on both engines and the single final division is IEEE-
# identical — the money-cents determinism trick applied to vectors.

_RP_OUT_DIMS = 8
_RP_IN_DIMS = 64
_RP_SCALE = 1_000_000


def _rp_signs() -> list[list[int]]:
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp-{j}-{i}".encode()).hexdigest()[0], 16) % 2 else -1
            for i in range(_RP_IN_DIMS)
        ]
        for j in range(_RP_OUT_DIMS)
    ]


def _rp_oracle_sql() -> str:
    signs_rows = ", ".join(
        f"({j}, {sv})" for j, sv in enumerate(_rp_signs())
    )
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * {_RP_SCALE})
                                        AS BIGINT)) AS xq
        FROM embeddings
    ),
    signs(j, sv) AS (VALUES {signs_rows})
    SELECT q.vec_id,
           CAST(s.j AS INT) AS dim,
           CAST(SUM(q.xq[t.i] * s.sv[t.i]) AS BIGINT) AS value_micro
    FROM q CROSS JOIN signs s, unnest(range(1, {_RP_IN_DIMS} + 1)) AS t(i)
    GROUP BY q.vec_id, s.j
    """


@register(
    "embedding_random_projection",
    oracle=_rp_oracle_sql(),
    tags=("similarity", "embedding"),
    doc=(
        "JL random projection 64 -> 8 dims with a fixed md5-derived +/-1 "
        "sign matrix (Achlioptas 2003).  Inputs quantized to integer "
        "micro-units and emitted as exact integer micro-units — the JL "
        "scale 1/(SCALE*sqrt(k)) is a constant applied downstream; a "
        "final cross-engine float rounding step was 1-ulp unstable.  Per-row "
        "fold, no shuffle.  The JVM higher-order fold costs ~in*out ops "
        "per row — for heavy production use the same computation drops "
        "into the Arrow matmul path (operators/similarity.py) unchanged."
    ),
)
def embedding_random_projection(spark, sf_dir):
    signs = _rp_signs()
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_RP_SCALE}) AS BIGINT))"
        ).alias("xq"),
    )
    dims = []
    for j, sv in enumerate(signs):
        arr = ", ".join(str(s) for s in sv)
        y = (
            f"aggregate(zip_with(xq, array({arr}), (x, s) -> x * s), "
            f"CAST(0 AS BIGINT), (a, v) -> a + v)"
        )
        dims.append(f"struct(CAST({j} AS INT) AS dim, {y} AS value_micro)")
    exploded = v.select(
        "vec_id", F.explode(F.expr("array(" + ", ".join(dims) + ")")).alias("p")
    )
    return exploded.select(
        "vec_id", F.col("p.dim").alias("dim"), F.col("p.value_micro").alias("value_micro")
    )


@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_VEC_DOUBLE_SQL} AS vec FROM embeddings),
    sims AS (
        SELECT a.vec_id AS query_id, a.label, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cosine
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE a.vec_id % 50 = 0
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, label, CAST(rk AS INT) AS rk, neighbor_id, cosine
    FROM ranked WHERE rk <= 5
    """,
    tags=("similarity", "topk", "filtered"),
    doc=(
        "Metadata-filtered vector search (exact): top-5 cosine neighbors "
        "restricted to candidates sharing the query's label — the "
        "pre-filter strategy of filtered ANN.  The predicate rides the "
        "broadcast-join condition, so only matching-label candidates are "
        "ever scored; at scale the corpus would additionally be "
        "partitioned by the filter column so partition pruning drops "
        "non-matching shards before the scan."
    ),
)
def ann_filtered_topk(spark, sf_dir):
    v = table(spark, sf_dir, "embeddings").select("vec_id", "label", _vec_double().alias("vec"))
    q = v.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label"),
        F.col("label").alias("bucket"),
        F.col("vec").alias("qvec"),
    )
    cand = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nbucket"),
        F.col("vec").alias("nvec"),
    )
    return topk_neighbors(q, cand, k=5, bucket_join=True).select(
        "query_id", "label", "rk", "neighbor_id", "cosine"
    )


# Adaptive bucket width for the corpus self-join: hold PER-BUCKET
# occupancy constant (~8 vectors, the sf0.1 fixture's occupancy at the
# original 8 bits) instead of the bucket COUNT constant, so the within-
# bucket quadratic work stays ~linear in N.  Rounding is floor(x + 0.5)
# in BOTH engines — identical double arithmetic, immune to the DuckDB
# half-away vs Python banker's divergence at exact .5.  At the
# sf0.01/sf0.1 fixtures (500 / 2k vectors) the rule resolves to the
# 8-bit instance, so oracle values there are identical to the fixed form.
_ADAPTIVE_OCCUPANCY = 8
_ADAPTIVE_BITS_LO = 8
_ADAPTIVE_BITS_HI = 16
_ADAPTIVE_BITS_SQL = f"""
    params AS (
        SELECT GREATEST({_ADAPTIVE_BITS_LO}, LEAST({_ADAPTIVE_BITS_HI},
               CAST(FLOOR(LOG2(COUNT(*) / {_ADAPTIVE_OCCUPANCY}.0) + 0.5) AS INT))) AS bits
        FROM embeddings
    )
"""
_ADAPTIVE_BUCKET_SQL = (
    "CAST(list_sum(list_transform(range(0, (SELECT bits FROM params)), "
    "i -> CASE WHEN embedding[i + 1] >= 0 THEN (1 << i) ELSE 0 END)) AS INT)"
)


def _adaptive_signbit_bits(n: int) -> int:
    """bits ~ round(log2(N / _ADAPTIVE_OCCUPANCY)), clamped to
    [_ADAPTIVE_BITS_LO, _ADAPTIVE_BITS_HI].

    Rounding is floor(x + 0.5) to match the DuckDB oracle expression
    bit-for-bit (both engines evaluate the same binary64 arithmetic)."""
    import math

    return max(_ADAPTIVE_BITS_LO, min(_ADAPTIVE_BITS_HI, math.floor(
        math.log2(max(n, 1) / float(_ADAPTIVE_OCCUPANCY)) + 0.5)))


@register(
    "ann_knn_graph_bucketed",
    oracle=f"""
    WITH {_ADAPTIVE_BITS_SQL},
    v AS (
        SELECT vec_id, {_VEC_DOUBLE_SQL} AS vec,
               {_ADAPTIVE_BUCKET_SQL} AS bucket
        FROM embeddings
    ),
    sims AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cosine
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cosine
    FROM ranked WHERE rk <= 3
    """,
    tags=("similarity", "graph", "scale"),
    doc=(
        "Full k-NN GRAPH over the corpus (every vector's top-3 same-"
        "bucket neighbors) — the substrate for SemDeDup-style semantic "
        "dedup and graph-based curation.  Unlike the query-path ANN ops "
        "(small broadcast query side), the graph build self-joins the "
        "corpus on the LSH bucket key: an ordinary SHUFFLE hash join "
        "both of whose sides partition by bucket, so the quadratic blow-"
        "up is confined within buckets (N^2/2^bits per bucket family) "
        "and no side needs to fit in memory — the plan that survives a "
        "billion-vector corpus, where broadcasting either side cannot.  "
        "SCALING RULE (measured, SCALE.md round-5 wave 6, APPLIED round "
        "6): with the bit width FIXED, bucket occupancy grows with N and "
        "the self-join degenerates toward N^2/2^bits — 18.8x wall time "
        "for a 10x corpus in the probe.  The operator therefore derives "
        "bits = clamp(round(log2(N / 8)), 8, 16) from one corpus count "
        "(the IVF sample-sizing pattern), holding per-bucket occupancy "
        "~constant so within-bucket work stays ~linear in N.  The DuckDB "
        "oracle computes the identical rule from its own COUNT(*), so "
        "parity holds at every SF; at the sf0.01/sf0.1 fixtures the rule "
        "resolves to the original 8-bit instance."
    ),
)
def ann_knn_graph_bucketed(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    bits = _adaptive_signbit_bits(emb.count())
    # Precompute each vector's norm ONCE before the self-join: the naive
    # per-pair cosine re-folds both operands' self-dot inside every pair
    # (3 64-element folds/pair); hoisting the norms to scan-side columns
    # cuts per-pair work to one fold + two divisions.  Division order
    # (dot / norm_a) / norm_b matches the oracle's  / sqrt(..) / sqrt(..)
    # exactly, so similarities stay bit-identical.
    v = emb.select(
        "vec_id", _vec_double().alias("vec"),
        signbit_bucket(bits=bits).alias("bucket"),
    ).withColumn("norm", F.sqrt(_dot(F.col("vec"), F.col("vec"))))
    a = v.select(F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"),
                 F.col("norm").alias("qnorm"), "bucket")
    b = v.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec"),
                 F.col("norm").alias("nnorm"), F.col("bucket").alias("nbucket"))
    sims = (
        a.join(b, (F.col("bucket") == F.col("nbucket"))
               & (F.col("query_id") != F.col("neighbor_id")))
        .select(
            "query_id", "neighbor_id",
            F.round(_dot(F.col("qvec"), F.col("nvec"))
                    / F.col("qnorm") / F.col("nnorm"), 6).alias("cosine"),
        )
    )
    return rank_topk(sims, 3).select("query_id", "rk", "neighbor_id", "cosine")


@register(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_VEC_DOUBLE_SQL} AS vec,
               CAST({_BUCKET_SQL} AS INT) AS bucket
        FROM embeddings
    ),
    sim_pairs AS (
        SELECT a.vec_id AS vec1, b.vec_id AS vec2
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_COS_SQL} >= {_NEAR_COS}
    ),
    {components_sql("sim_pairs", "vec1", "vec2", "vec_id", "cluster_id")}
    SELECT c.vec_id, c.cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size,
           c.vec_id = c.cluster_id AS keep
    FROM comp c
    """,
    tags=("similarity", "dedup", "graph"),
    doc=(
        "SemDeDup (Abbas et al. 2023): semantic dedup in EMBEDDING "
        "space — near-duplicate pairs from the sign-bit-bucketed cosine "
        "screen (the same candidate structure as dedup_embedding_near) "
        "become clusters via connected components; each cluster keeps "
        "its min-vec_id as the canonical representative and marks the "
        "rest for removal.  Composes the operator library: bucketed "
        "pair generation -> operators.dedup.connected_components "
        "(driver union-find under 1M edges, Pregel min-label above) -> "
        "per-cluster canonical selection.  Oracle verifies the FULL "
        "composition with true recursive-CTE reachability."
    ),
)
def dedup_semantic_clusters(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..operators.dedup import connected_components

    pairs = dedup_embedding_near(spark, sf_dir).select(
        F.col("vec1").alias("doc1"), F.col("vec2").alias("doc2")
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("component_id").alias("cluster_id")
    )
    return comp.select(
        "vec_id",
        "cluster_id",
        F.count(F.lit(1)).over(W.partitionBy("cluster_id")).cast("bigint").alias("cluster_size"),
        (F.col("vec_id") == F.col("cluster_id")).alias("keep"),
    )


@register(
    "ann_hybrid_rrf_fusion",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_VEC_DOUBLE_SQL} AS vec FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cosine,
               round(list_dot_product(a.vec, a.vec)
                     + list_dot_product(b.vec, b.vec)
                     - 2 * list_dot_product(a.vec, b.vec), 6) AS l2sq
        FROM v a JOIN v b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
    ),
    cosr AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM pairs
    ),
    l2r AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY l2sq ASC, neighbor_id) AS rk
        FROM pairs
    ),
    contrib AS (
        SELECT query_id, neighbor_id, 'cos' AS src, rk
        FROM cosr WHERE rk <= 50
        UNION ALL
        SELECT query_id, neighbor_id, 'l2', rk FROM l2r WHERE rk <= 50
    ),
    fused AS (
        SELECT query_id, neighbor_id,
               CAST(SUM(CAST(round(1e9 / (60 + rk)) AS BIGINT)) AS BIGINT)
                 AS rrf_e9,
               MAX(CASE WHEN src = 'cos' THEN rk END) AS cos_rk,
               MAX(CASE WHEN src = 'l2' THEN rk END) AS l2_rk
        FROM contrib GROUP BY 1, 2
    )
    SELECT query_id, CAST(rrf_rank AS INT) AS rrf_rank, neighbor_id,
           round(rrf_e9 / 1e9, 9) AS rrf_score,
           CAST(cos_rk AS INT) AS cos_rk, CAST(l2_rk AS INT) AS l2_rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf_e9 DESC, neighbor_id)
                    AS rrf_rank
        FROM fused
    ) WHERE rrf_rank <= 10
    """,
    tags=("similarity", "topk", "fusion"),
    doc=(
        "Reciprocal-rank fusion (Cormack et al. 2009, the hybrid-"
        "search combiner): per probe, the cosine top-50 and the "
        "squared-L2 top-50 (genuinely different orders on these non-"
        "normalized vectors) fuse by RRF(n) = sum 1/(60+rk) — the "
        "rank-only aggregation hybrid retrieval stacks use because it "
        "needs NO score calibration between lists.  The pair metrics "
        "are streamed — never materialized: each ranking's top-50 "
        "filter lowers to a per-partition WindowGroupLimit, so the "
        "plan is two brute-force partial-top-k passes; each 1/(60+rk) "
        "term "
        "quantizes to e9 integers so the fusion sum and final ranking "
        "are exact.  At scale each ranking is the broadcast-probe "
        "partial-top-k plan; fusion itself touches only Q x 50 rows "
        "per list."
    ),
)
def ann_hybrid_rrf_fusion(spark, sf_dir):
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_double().alias("vec")
    )
    q = v.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        _dot(F.col("vec"), F.col("vec")).alias("qn2"),  # norm hoisted
    )
    cand = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        _dot(F.col("vec"), F.col("vec")).alias("nn2"),  # norm hoisted
    )
    # small-file corpus scan would pin the O(Q x N x d) fold onto one
    # task (the topk_neighbors precedent) — fan it out first
    cand = fan_out(cand)
    d = _dot(F.col("qvec"), F.col("nvec"))
    pairs = (
        F.broadcast(q)
        .join(cand, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # ONE fold per pair: both metrics reuse the hoisted norms
            F.round(d / F.sqrt("qn2") / F.sqrt("nn2"), 6).alias("cosine"),
            F.round(F.col("qn2") + F.col("nn2") - 2 * d, 6).alias("l2sq"),
        )
        # deliberately NOT checkpointed: each ranking's rk<=50 filter
        # lowers to a per-partition WindowGroupLimit, so streaming the
        # pair subplan twice beats materializing Q x N rows
    )
    from pyspark.sql import Window as W

    wc = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    wl = W.partitionBy("query_id").orderBy(F.col("l2sq").asc(), "neighbor_id")
    cosr = (
        pairs.select(
            "query_id", "neighbor_id", F.row_number().over(wc).alias("rk")
        )
        .filter(F.col("rk") <= 50)
        .withColumn("src", F.lit("cos"))
    )
    l2r = (
        pairs.select(
            "query_id", "neighbor_id", F.row_number().over(wl).alias("rk")
        )
        .filter(F.col("rk") <= 50)
        .withColumn("src", F.lit("l2"))
    )
    fused = (
        cosr.unionByName(l2r)
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.round(1e9 / (60 + F.col("rk"))).cast("long"))
            .cast("long")
            .alias("rrf_e9"),
            F.max(F.when(F.col("src") == "cos", F.col("rk")))
            .cast("int")
            .alias("cos_rk"),
            F.max(F.when(F.col("src") == "l2", F.col("rk")))
            .cast("int")
            .alias("l2_rk"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(
        F.col("rrf_e9").desc(), "neighbor_id"
    )
    return (
        fused.withColumn("rrf_rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rrf_rank") <= 10)
        .select(
            "query_id",
            "rrf_rank",
            "neighbor_id",
            F.round(F.col("rrf_e9") / 1e9, 9).alias("rrf_score"),
            "cos_rk",
            "l2_rk",
        )
    )


_KNN_EVAL_K = 5
_KNN_EVAL_QUERY_MOD = 10  # evaluate every 10th vec (exact vs FULL corpus)
_KNN_EVAL_QUERY_CAP = 200  # fixed eval-set SIZE: mod-sampled ids below
_KNN_EVAL_ID_CEIL = _KNN_EVAL_QUERY_MOD * _KNN_EVAL_QUERY_CAP
# MOD*CAP, so the harness cost is (CAP x corpus) — linear in corpus
# size, never quadratic, at any scale.


@register(
    "mlprep_knn_classifier_eval",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, {_VEC_DOUBLE_SQL} AS vec FROM embeddings
    ),
    q AS (SELECT * FROM v
          WHERE vec_id % {_KNN_EVAL_QUERY_MOD} = 0
            AND vec_id < {_KNN_EVAL_ID_CEIL}),
    scored AS (
        SELECT a.vec_id AS i, a.label AS true_label,
               b.label AS nbr_label,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_COS_SQL} DESC, b.vec_id
               ) AS rk
        FROM q a JOIN v b ON a.vec_id <> b.vec_id
    ),
    votes AS (
        SELECT i, true_label, nbr_label,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM scored WHERE rk <= {_KNN_EVAL_K}
        GROUP BY i, true_label, nbr_label
    ),
    pred AS (
        SELECT i, true_label, nbr_label AS pred_label,
               row_number() OVER (
                   PARTITION BY i ORDER BY c DESC, nbr_label
               ) AS vr
        FROM votes
    ),
    conf AS (
        SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred WHERE vr = 1 GROUP BY true_label, pred_label
    ),
    acc AS (
        SELECT CAST(SUM(CASE WHEN true_label = pred_label THEN n
                             ELSE 0 END) AS BIGINT) AS hit,
               CAST(SUM(n) AS BIGINT) AS tot
        FROM conf
    )
    SELECT c.true_label, c.pred_label, c.n,
           round(CAST(a.hit AS DOUBLE) / a.tot, 6) AS accuracy
    FROM conf c CROSS JOIN acc a
    ORDER BY c.true_label, c.pred_label
    """,
    tags=("mlprep", "similarity", "stats"),
    doc=(
        f"Leave-one-out {_KNN_EVAL_K}-NN classification over the "
        "embedding labels: exact cosine neighbors (deterministic "
        "vec_id tie-break), majority vote (count desc, label asc), "
        "confusion matrix + accuracy — the label-quality / "
        "embedding-space-health eval a training pipeline runs per "
        "embedding build, and the ground-truth harness the ANN "
        "operators' recall is judged against.  The QUERY side is a "
        f"deterministic mod-{_KNN_EVAL_QUERY_MOD} sample capped at "
        f"{_KNN_EVAL_QUERY_CAP} points (fixed eval-set SIZE, not a "
        "fraction) so the eval is exact per evaluated point against "
        "the FULL corpus but strictly linear in corpus size — the "
        "broadcast query side means the corpus never shuffles, and "
        "at 100 TB the cap is the only knob."
    ),
)
def mlprep_knn_classifier_eval(spark, sf_dir):
    from pyspark.sql import Window as W

    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec_double().alias("vec")
    )
    a = v.where(
        (F.col("vec_id") % _KNN_EVAL_QUERY_MOD == 0)
        & (F.col("vec_id") < _KNN_EVAL_ID_CEIL)
    ).select(
        F.col("vec_id").alias("i"),
        F.col("label").alias("true_label"),
        F.col("vec").alias("va"),
    )
    # BroadcastNLJ parallelism follows the stream (corpus) side; the sf
    # parquet is a single split, so io.fan_out spreads the cosine work
    # across every core
    b = fan_out(v).select(
        F.col("vec_id").alias("j"),
        F.col("label").alias("nbr_label"),
        F.col("vec").alias("vb"),
    )
    scored = (
        F.broadcast(a).join(b, F.col("i") != F.col("j"))
        .select(
            "i",
            "true_label",
            "nbr_label",
            "j",
            _cosine(F.col("va"), F.col("vb")).alias("cos"),
        )
        .select(
            "i",
            "true_label",
            "nbr_label",
            F.row_number()
            .over(W.partitionBy("i").orderBy(F.desc("cos"), F.asc("j")))
            .alias("rk"),
        )
        .where(F.col("rk") <= _KNN_EVAL_K)
    )
    votes = scored.groupBy("i", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    pred = votes.select(
        "i",
        "true_label",
        F.col("nbr_label").alias("pred_label"),
        F.row_number()
        .over(
            W.partitionBy("i").orderBy(F.desc("c"), F.asc("nbr_label"))
        )
        .alias("vr"),
    ).where(F.col("vr") == 1)
    conf = pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    acc = conf.agg(
        F.sum(
            F.when(F.col("true_label") == F.col("pred_label"), F.col("n"))
            .otherwise(0)
        )
        .cast("long")
        .alias("hit"),
        F.sum("n").cast("long").alias("tot"),
    )
    return (
        conf.crossJoin(F.broadcast(acc))
        .select(
            "true_label",
            "pred_label",
            "n",
            F.round(F.col("hit").cast("double") / F.col("tot"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("true_label", "pred_label")
    )


_MATRYOSHKA_DIMS = (64, 32, 16, 8)
_MATRYOSHKA_K = 10
_MATRYOSHKA_QUERY_MOD = 25  # every 25th vec is a query


def _matryoshka_truncated_cos_sql(dim: int) -> str:
    return f"""
        round(
            list_dot_product(a.vec[1:{dim}], b.vec[1:{dim}])
            / sqrt(list_dot_product(a.vec[1:{dim}], a.vec[1:{dim}]))
            / sqrt(list_dot_product(b.vec[1:{dim}], b.vec[1:{dim}])), 6)
    """


def _matryoshka_rank_sql(dim: int) -> str:
    return f"""
        SELECT {dim} AS dim, a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_matryoshka_truncated_cos_sql(dim)} DESC, b.vec_id
               ) AS rk
        FROM q a JOIN v b ON a.vec_id <> b.vec_id
    """


@register(
    "embedding_matryoshka_recall",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {_VEC_DOUBLE_SQL} AS vec FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id % {_MATRYOSHKA_QUERY_MOD} = 0),
    ranked AS (
        {" UNION ALL ".join(_matryoshka_rank_sql(d) for d in _MATRYOSHKA_DIMS)}
    ),
    top AS (SELECT * FROM ranked WHERE rk <= {_MATRYOSHKA_K}),
    full_top AS (
        SELECT query_id, neighbor_id FROM top WHERE dim = {_MATRYOSHKA_DIMS[0]}
    ),
    overlap AS (
        SELECT t.dim, t.query_id, CAST(COUNT(f.neighbor_id) AS BIGINT) AS hits
        FROM top t LEFT JOIN full_top f
          ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        GROUP BY t.dim, t.query_id
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(hits) AS BIGINT) AS hits,
           round(CAST(SUM(hits) AS DOUBLE)
                 / (COUNT(*) * {_MATRYOSHKA_K}), 6) AS recall_at_{_MATRYOSHKA_K}
    FROM overlap GROUP BY dim ORDER BY dim DESC
    """,
    tags=("similarity", "mlprep"),
    doc=(
        "Matryoshka-truncation recall (Kusupati et al. 2022): top-10 "
        "cosine neighbors computed from the first 64/32/16/8 embedding "
        "coordinates, scored as overlap with the full-dimension top-10 "
        "— the storage/latency-vs-recall curve behind MRL-style "
        "embedding serving, measured in-engine before committing to a "
        "truncation.  One query-sample broadcast against the corpus, "
        "one ranking window per dim budget (prefix slices of the SAME "
        "vectors — no re-embedding), exact ranking with deterministic "
        "tie-breaks, recall as exact integer overlap counts."
    ),
)
def embedding_matryoshka_recall(spark, sf_dir):
    from pyspark.sql import Window as W

    v = materialize(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", _vec_double().alias("vec")
        ),
        "embedding_matryoshka_recall vectors: both sides of every dim budget",
    )
    q = v.where(F.col("vec_id") % _MATRYOSHKA_QUERY_MOD == 0)
    ranked = None
    for d in _MATRYOSHKA_DIMS:
        # Per-ROW truncated norms: sqrt(dot(vec[:d], vec[:d])) is the
        # exact sequential fold the per-pair cosine evaluated, hoisted
        # out of the pair loop — |q| + |v| evaluations per dim instead
        # of 2*|q|*|v| (bit-identical doubles: same slice, same fold,
        # same operand order, same division order), leaving ONE dot
        # fold per pair instead of three.  Kept as one join + one
        # window per dim: fusing all four budgets into a single
        # exploded projection was probed 2x SLOWER (the giant combined
        # expression defeats compact codegen).
        a = q.select(
            F.col("vec_id").alias("query_id"),
            F.slice("vec", 1, d).alias("qv"),
            F.sqrt(_dot(F.slice("vec", 1, d), F.slice("vec", 1, d))).alias("qn"),
        )
        b = v.select(
            F.col("vec_id").alias("neighbor_id"),
            F.slice("vec", 1, d).alias("nv"),
            F.sqrt(_dot(F.slice("vec", 1, d), F.slice("vec", 1, d))).alias("nn"),
        )
        part = (
            F.broadcast(a)
            .join(b, F.col("query_id") != F.col("neighbor_id"))
            .select(
                F.lit(d).alias("dim"),
                "query_id",
                "neighbor_id",
                F.round(
                    _dot(F.col("qv"), F.col("nv")) / F.col("qn") / F.col("nn"),
                    6,
                ).alias("cos"),
            )
            .select(
                "dim",
                "query_id",
                "neighbor_id",
                F.row_number()
                .over(
                    W.partitionBy("query_id").orderBy(
                        F.desc("cos"), F.asc("neighbor_id")
                    )
                )
                .alias("rk"),
            )
            .where(F.col("rk") <= _MATRYOSHKA_K)
        )
        ranked = part if ranked is None else ranked.unionByName(part)
    top = materialize(ranked, "embedding_matryoshka_recall top-k: reference and overlap join")
    full_top = top.where(F.col("dim") == _MATRYOSHKA_DIMS[0]).select(
        F.col("query_id").alias("fq"), F.col("neighbor_id").alias("fn")
    )
    overlap = (
        top.join(
            full_top,
            (F.col("query_id") == F.col("fq"))
            & (F.col("neighbor_id") == F.col("fn")),
            "left",
        )
        .groupBy("dim", "query_id")
        .agg(F.count("fn").cast("long").alias("hits"))
    )
    return (
        overlap.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum("hits").cast("long").alias("hits"),
        )
        .select(
            "dim",
            "n_queries",
            "hits",
            F.round(
                F.col("hits").cast("double")
                / (F.col("n_queries") * _MATRYOSHKA_K),
                6,
            ).alias(f"recall_at_{_MATRYOSHKA_K}"),
        )
        .orderBy(F.desc("dim"))
    )

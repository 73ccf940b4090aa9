"""Similarity-search operator library (build plan M5): the one copy of
every ANN step.

Cosine math is double-precision end to end with a sequential fold so
results are reproducible bit-for-bit across engines (the oracle
recomputes them in DuckDB).  Ranking keys are rounded + id-tie-broken
for cross-partitioning determinism.

Scale design: the broadcast side is always the (small) query set; the
vector corpus is never shuffled for brute force — each partition
computes partial similarities and the top-k collapses via
TakeOrderedAndProject / window-per-query.  Bucketed variants (sign-bit
LSH here, learned IVF centroids in production) turn the O(Q·N) scan
into O(Q·N/buckets) with the same plan shape.

Queries are (query_id, qvec [, bucket]) frames and the corpus is
(neighbor_id, nvec [, nbucket]).  The single path, one function per
step:

- ``vec_double`` / ``dot`` / ``cosine``: the exact JVM similarity.
- ``signbit_bucket``: hyperplane-sign LSH bucket of ``embedding``.
- ``rank_topk``: the per-query top-k window (cosine desc, neighbor_id)
  every search ends with.
- ``topk_neighbors`` (exact, optionally bucket-joined),
  ``lsh_multiprobe_topk`` and ``topk_neighbors_matmul`` (numpy
  partial top-k per Arrow batch).
- ``kmeans_centroids`` / ``assign_clusters`` / ``ivf_topk``: IVF.
- ``pq_train_codebooks`` / ``pq_encode`` / ``pq_topk``: PQ.

The numpy kernels behind them are one copy each: ``_sq_dists`` (squared
distance to every centroid, up to the row's own norm), ``_lloyd``,
``_sample_matrix`` (the deterministic training sample) and
``_block_topk`` (a block's partial top-k).

Constants: ``COSINE_DECIMALS`` = 6 the rounding of every cosine,
``SIGNBIT_BITS`` = 8 the default bucket width, ``PROBE_RADIUS`` = 3 the
multi-probe Hamming radius, ``TRAIN_ROWS`` = 16 384 the training-sample
bound, ``IVF_ITERS`` = 8 and ``PQ_ITERS`` = 5 Lloyd iterations,
``PQ_SUBSPACES`` = 8 and ``PQ_MAX_QUERIES`` = 1024.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..io import fan_out, materialize

COSINE_DECIMALS = 6
SIGNBIT_BITS = 8
PROBE_RADIUS = 3
TRAIN_ROWS = 16_384
IVF_ITERS = 8
PQ_SUBSPACES = 8
PQ_ITERS = 5
PQ_MAX_QUERIES = 1024

_CAND_COLS = ["query_id", "neighbor_id", "cosine"]
_CAND_SCHEMA = "query_id long, neighbor_id long, cosine double"


def vec_double() -> Column:
    """Promote the float32 ``embedding`` to double BEFORE any arithmetic."""
    return F.transform(F.col("embedding"), lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return F.round(dot(a, b) / F.sqrt(dot(a, a)) / F.sqrt(dot(b, b)), COSINE_DECIMALS)


def signbit_bucket(bits: int = SIGNBIT_BITS) -> Column:
    """Hyperplane-sign LSH bucket id from the signs of the first
    ``bits`` dimensions of ``embedding`` (stand-in for random
    projections / IVF)."""
    c = F.col("embedding")
    bucket = None
    for i in range(bits):
        term = F.when(c.getItem(i) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = term if bucket is None else (bucket + term)
    return bucket.cast("int")


def rank_topk(sims: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best rows of ``sims`` by ``cosine``, ties to
    the lower ``neighbor_id``, ranked 1..k in the int column ``rk``."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return sims.withColumn("rk", F.row_number().over(w).cast("int")).filter(F.col("rk") <= k)


def _sq_dists(x, cm):
    """||x - c||^2 - ||x||^2 for every row of ``x`` and centroid of
    ``cm``: the row's own norm is constant per row, so the argmin over
    centroids needs only these columns."""
    return -2.0 * (x @ cm.T) + (cm * cm).sum(axis=1)[None, :]


def _lloyd(x, cm, iters: int):
    """``iters`` Lloyd rounds over ``x`` updating ``cm`` in place; an
    empty cluster keeps its centroid."""
    for _ in range(iters):
        labels = np.argmin(_sq_dists(x, cm), axis=1)
        for ci in range(len(cm)):
            members = x[labels == ci]
            if len(members):
                cm[ci] = members.mean(axis=0)
    return cm


def _sample_matrix(corpus: DataFrame):
    """The training sample: at most ``TRAIN_ROWS`` corpus vectors in
    hashed-neighbor_id order, collected in ONE distributed job.  The
    hash order makes the sample reproducible and unbiased by storage
    order, and bounds driver memory at TRAIN_ROWS x dim floats whatever
    the corpus size (faiss trains its quantizers the same way)."""
    rows = (
        corpus.select("nvec")
        .orderBy(F.xxhash64(F.col("neighbor_id")))
        .limit(TRAIN_ROWS)
        .collect()
    )
    return np.array([r["nvec"] for r in rows], dtype=np.float64)


def _block_topk(vecs, nids, qids, qn, k: int) -> list:
    """(query_id, neighbor_id, cosine) rows: each query's ``k`` + 1 best
    matches within one corpus block (``vecs`` with ids ``nids``) minus
    the query itself, so at least ``k`` survive.  ``qn`` holds the
    unit-norm query rows of ``qids``."""
    n_mat = np.array(list(vecs), dtype=np.float64)
    n_mat = n_mat / np.linalg.norm(n_mat, axis=1, keepdims=True)
    sims = n_mat @ qn.T  # (block rows, queries)
    out = []
    for qi, qid in enumerate(qids):
        col = sims[:, qi]
        take = min(k + 1, len(col))  # +1 in case self is in the block
        for j in np.argpartition(-col, take - 1)[:take]:
            nid = int(nids[j])
            if nid != qid:
                out.append((int(qid), nid, round(float(col[j]), COSINE_DECIMALS)))
    return out


def lsh_multiprobe_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Multi-probe sign-bit LSH top-k (Lv et al., "Multi-probe LSH",
    VLDB 2007): each query probes every bucket within Hamming distance
    ``PROBE_RADIUS`` of its own, then exact-reranks inside the probed set.

    The probe expansion is an explode of the (C(bits,0..radius)) XOR
    masks on the BROADCAST query side — the corpus is still reached by
    a plain equi-join on its single bucket id, so the corpus side never
    shuffles ON THE JOIN; only the tiny probe table grows (x93 at
    bits=8, radius=3).  (One caveat, scoped like shingle()'s fan-out
    note: when the corpus is read from fewer files than the cluster has
    cores — a local-fixture artifact — ``io.fan_out`` repartitions it
    once, a real shuffle that a many-file 100 TB corpus never takes.)

    Fixture calibration (sf0.1, 2000x64, true-neighbor cosine ~0.37 =>
    per-bit agreement ~0.62): radius 0/1/2/3 measures recall 0.0/0.125/
    0.392/0.650 at scan fractions 0.004/0.035/0.146/0.363 — hence radius
    3 (the single-probe r<=12 variant returned zero true neighbors on
    this weakly-separated fixture and was a user trap).  ``queries``
    must carry a ``bucket`` column; ``corpus`` an ``nbucket`` column
    (as produced by ``signbit_bucket()``)."""
    masks = [m for m in range(1 << SIGNBIT_BITS) if bin(m).count("1") <= PROBE_RADIUS]
    probes = queries.withColumn(
        "__mask", F.explode(F.array(*[F.lit(m) for m in masks]))
    ).withColumn("__probe", F.col("bucket").bitwiseXOR(F.col("__mask")))
    corpus = fan_out(corpus)  # see the docstring caveat
    cond = (F.col("query_id") != F.col("neighbor_id")) & (
        F.col("__probe") == F.col("nbucket")
    )
    joined = F.broadcast(probes).join(corpus, cond)
    sims = joined.withColumn("cosine", cosine(F.col("qvec"), F.col("nvec")))
    return rank_topk(sims, k).drop("qvec", "nvec", "nbucket", "__mask", "__probe")


def kmeans_centroids(corpus: DataFrame, n_centroids: int) -> list:
    """Deterministic Lloyd's k-means for IVF training.  Returns
    driver-side [(cluster_id, [float,...])] — centroids are tiny by
    construction.  The first seed is the lowest-id vector.

    Trains on ``_sample_matrix``'s bounded sample, iterated
    ``IVF_ITERS`` times in numpy on the driver: the whole training costs
    one distributed job for the seeds and one for the sample, and Lloyd
    iterations are then free."""
    init_rows = corpus.orderBy("neighbor_id").limit(n_centroids).collect()
    init = [(i, [float(x) for x in r["nvec"]]) for i, r in enumerate(init_rows)]
    mat = _sample_matrix(corpus)
    # farthest-point init over the sample (deterministic k-means++
    # analogue): start from the lowest-id seed, then greedily take
    # the sample vector farthest from the chosen set.  Spreads the
    # seeds across the data instead of the lowest-id clump — on
    # clusterable corpora this is what recovers the clusters;
    # on the isotropic-noise fixture it is measured neutral
    # (0.605 -> 0.615 recall), see ANN_EVAL.json crossover notes.
    cm = np.array([init[0][1]], dtype=np.float64)
    for j in range(n_centroids - 1):
        d = np.min(
            [((mat - c) ** 2).sum(axis=1) for c in cm], axis=0
        )
        if float(d.max()) == 0.0:
            # fewer distinct sample vectors than centroids: argmax
            # over all-zero distances would re-pick index 0 forever,
            # yielding duplicate centroids and permanently empty
            # clusters (ADVICE r13) — pad from the lowest-id init
            # rows instead and stop seeding.
            # dedupe the pad against the chosen set AND against
            # itself — duplicate vectors among init[1:] would
            # otherwise still yield duplicate centroids, the exact
            # condition this branch exists to avoid (ADVICE r14)
            pad: list = []
            seen = {tuple(np.asarray(c).tolist()) for c in cm}
            for _, v in init[1:]:
                key = tuple(np.asarray(v, dtype=np.float64).tolist())
                if key not in seen:
                    seen.add(key)
                    pad.append(v)
            need = n_centroids - 1 - j
            cm = np.vstack([cm, np.array(pad[:need], dtype=np.float64)]) if pad else cm
            break
        cm = np.vstack([cm, mat[int(np.argmax(d))]])
    cm = _lloyd(mat, cm, IVF_ITERS)
    return [(i, [float(x) for x in cm[i]]) for i in range(len(cm))]


def assign_clusters(df: DataFrame, centroids: list) -> DataFrame:
    """Nearest-centroid ``cluster`` of each ``nvec`` via an
    Arrow-batched numpy pass (no join, no shuffle; centroids broadcast).
    A folded Column-expression variant works too but K×dim literal trees
    blow up codegen — the vectorized distance matrix is the practical
    IVF assignment."""
    c_ids = [cid for cid, _ in centroids]
    c_mat = [vec for _, vec in centroids]
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((c_ids, c_mat))
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema += ", cluster int"

    def assign(batches):
        ids, mat = bc.value
        cm = np.array(mat, dtype=np.float64)  # (K, dim)
        id_arr = np.array(ids)
        for pdf in batches:
            v = np.array(list(pdf["nvec"]), dtype=np.float64)  # (n, dim)
            d = _sq_dists(v, cm)
            yield pdf.assign(cluster=id_arr[np.argmin(d, axis=1)].astype("int32"))

    return df.mapInPandas(assign, schema=out_schema)


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int, n_centroids: int = 8,
             n_probe: int = 2) -> DataFrame:
    """IVF ANN: train centroids, bucket the corpus by nearest centroid,
    probe each query's ``n_probe`` nearest clusters, exact-rerank inside.
    Scanned fraction ≈ n_probe / n_centroids of the corpus.

    The in-cluster rerank is a vectorized Arrow pass (per-cluster BLAS
    similarity block, partial top-k per batch), mirroring the matmul
    brute-force path: only ~partitions × queries × (k+1) candidate rows
    ever reach the final per-query window.  An earlier shape scored
    candidates with the per-row JVM fold and windowed the full
    |probes|·|cluster| candidate set — interpreted higher-order-function
    evaluation dominated the runtime ~10x at corpus scale (measured in
    the round-5 10x probe, SCALE.md).  The Arrow pass carries a fixed
    Python-worker cost per probe batch, so at tiny scale (sf0.1 bench)
    this variant measures ~0.2-0.3 s above the old JVM-fold shape —
    accepted: the same trade is 43.8 s -> 2.2 s at 10x and widens with
    the corpus."""
    centroids = kmeans_centroids(corpus, n_centroids=n_centroids)
    # the rerank runs on the corpus side's tasks — spread a scan of
    # too few files first
    bucketed = assign_clusters(fan_out(corpus), centroids)
    # queries are tiny (the broadcast side): probe sets computed driver-side
    spark = queries.sparkSession
    q_rows = queries.select("query_id", "qvec").collect()
    cm = np.array([vec for _, vec in centroids], dtype=np.float64)
    c_ids = np.array([cid for cid, _ in centroids])
    by_cluster: dict[int, list] = {}
    for r in q_rows:
        qv = np.array(r.qvec, dtype=np.float64)
        d = ((cm - qv[None, :]) ** 2).sum(axis=1)
        for cid in c_ids[np.argsort(d)[:n_probe]]:
            by_cluster.setdefault(int(cid), []).append((int(r.query_id), qv))
    probe_tabs = {}
    for cid, members in by_cluster.items():
        q_mat = np.array([qv for _, qv in members])
        probe_tabs[cid] = (
            np.array([qid for qid, _ in members]),
            q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True),
        )
    bc = spark.sparkContext.broadcast(probe_tabs)

    def score(batches):
        tabs = bc.value
        for pdf in batches:
            out = []
            for cid, grp in pdf.groupby("cluster"):
                probe = tabs.get(int(cid))
                if probe is not None:
                    qid_arr, qn = probe
                    out += _block_topk(grp["nvec"], grp["neighbor_id"].to_numpy(), qid_arr, qn, k)
            yield pd.DataFrame(out, columns=_CAND_COLS)

    candidates = bucketed.mapInPandas(score, schema=_CAND_SCHEMA)
    return rank_topk(candidates, k).select("query_id", "rk", "neighbor_id", "cosine")


def topk_neighbors_matmul(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Arrow-vectorized brute-force top-k: the query matrix broadcasts to
    every partition; each ``mapInPandas`` batch computes a numpy
    (batch × queries) similarity block and emits its partial top-k, then
    a per-query window keeps the global top-k.

    This is the genuine pandas-UDF fast path (BLAS matmul ≫ per-element
    expression eval for dense vectors).  numpy's pairwise summation
    differs from a sequential fold in the last ulps, so this variant is
    registered rows-only; tests assert neighbor-set agreement with the
    exact JVM plan.
    """
    q_rows = queries.select("query_id", "qvec").collect()
    q_ids = [r.query_id for r in q_rows]
    q_mat = np.array([r.qvec for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, q_norm))

    def block_topk(batches):
        ids, qn = bc.value
        for pdf in batches:
            out = _block_topk(pdf["nvec"], pdf["neighbor_id"].to_numpy(), ids, qn, k)
            yield pd.DataFrame(out, columns=_CAND_COLS)

    partial = corpus.select("neighbor_id", "nvec").mapInPandas(block_topk, schema=_CAND_SCHEMA)
    return rank_topk(partial, k)


def topk_neighbors(queries: DataFrame, corpus: DataFrame, k: int,
                   bucket_join: bool = False) -> DataFrame:
    """Top-k cosine neighbors per query.  With ``bucket_join`` only
    candidates whose ``nbucket`` equals the query's ``bucket`` are
    scanned."""
    cond = F.col("query_id") != F.col("neighbor_id")
    if bucket_join:
        cond = cond & (F.col("bucket") == F.col("nbucket"))
    # the per-pair cosine work parallelizes over CORPUS partitions (the
    # query side is broadcast); a small-file corpus scan would pin the
    # whole O(|Q| x |C| x d) compute onto one task — fan it out.  On a
    # real sharded corpus (files >= cores) this is a no-op.
    corpus = fan_out(corpus)
    joined = F.broadcast(queries).join(corpus, cond)
    sims = joined.withColumn("cosine", cosine(F.col("qvec"), F.col("nvec")))
    return rank_topk(sims, k).drop("qvec", "nvec", "nbucket")


# ------------------------------------------------------------------ PQ ANN


def pq_train_codebooks(corpus: DataFrame, n_codes: int = 16) -> list:
    """Product-quantization codebooks (Jégou et al., "Product
    quantization for nearest neighbor search", TPAMI 2011): split the
    vector into ``PQ_SUBSPACES`` contiguous sub-vectors and k-means each
    subspace independently to ``n_codes`` centroids.

    Training follows ``kmeans_centroids``' bounded-sample recipe: ONE
    distributed job collects ``_sample_matrix``, ``PQ_ITERS`` Lloyd
    rounds run in numpy on the driver, and the codebooks
    (PQ_SUBSPACES × n_codes × sub_dim floats — kilobytes) broadcast to
    every encoder task.  Returns a nested python list
    ``codebooks[m][k] = [float,...]``."""
    mat = _sample_matrix(corpus)
    dim = mat.shape[1]
    if dim % PQ_SUBSPACES:
        raise ValueError(f"dim {dim} not divisible by PQ_SUBSPACES {PQ_SUBSPACES}")
    sub = dim // PQ_SUBSPACES
    books = []
    for m in range(PQ_SUBSPACES):
        x = mat[:, m * sub:(m + 1) * sub]
        # deterministic init: first n_codes distinct-ish rows of the sample
        cm = _lloyd(x, x[:n_codes].copy(), PQ_ITERS)
        books.append([[float(v) for v in row] for row in cm])
    return books


def pq_encode(corpus: DataFrame, codebooks: list) -> DataFrame:
    """Encode each ``nvec`` as ``PQ_SUBSPACES`` uint8 codes (nearest
    centroid per subspace) — an Arrow-batched numpy pass, no shuffle.
    At 64-dim float32 → 8 codes this is a 32× memory compression of
    the corpus index."""
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def encode(batches):
        books = [np.array(b, dtype=np.float64) for b in bc.value]
        sub = books[0].shape[1]
        for pdf in batches:
            v = np.array(list(pdf["nvec"]), dtype=np.float64)
            codes = np.empty((len(v), len(books)), dtype=np.int32)
            for m, cm in enumerate(books):
                codes[:, m] = np.argmin(_sq_dists(v[:, m * sub:(m + 1) * sub], cm), axis=1)
            yield pd.DataFrame({"neighbor_id": pdf["neighbor_id"], "codes": list(codes.tolist())})

    return corpus.mapInPandas(encode, schema="neighbor_id long, codes array<int>")


def pq_topk(queries: DataFrame, corpus: DataFrame, k: int,
            n_codes: int = 16, rerank: int = 4) -> DataFrame:
    """PQ ANN with asymmetric distance (ADC) + exact rerank:

    1. train codebooks on a bounded sample (one job);
    2. encode the corpus to uint8 codes (Arrow pass, no shuffle) —
       the only per-vector state the search touches;
    3. per query, precompute the (PQ_SUBSPACES × n_codes) distance
       table driver-side and broadcast it; each partition scores its
       codes by ``rerank*k`` table lookups per row and emits a partial
       candidate top-k — the corpus float vectors are NOT read here;
    4. exact-cosine rerank of the per-query candidates against the
       true vectors (a broadcast semi-join back to the corpus), so the
       returned scores are exact and deterministic.

    At 100 TB the scan side holds codes only (32× smaller than the
    raw float32 corpus) — the standard memory-bound ANN trade.

    Query-side contract: the query set is collected to the driver (its
    ADC tables broadcast), so it must be BOUNDED — ``PQ_MAX_QUERIES`` is
    enforced, not advisory (each query costs ~PQ_SUBSPACES*n_codes*8 B
    of broadcast plus one scoring pass per corpus batch).  For larger
    probe sets, chunk the queries and union the results, or use the
    IVF/matmul paths whose probe side stays a DataFrame."""
    spark = queries.sparkSession
    # the bound is checked before the codebooks train or the corpus encodes
    q_rows = queries.select("query_id", "qvec").limit(PQ_MAX_QUERIES + 1).collect()
    if len(q_rows) > PQ_MAX_QUERIES:
        raise ValueError(
            f"pq_topk collected more than PQ_MAX_QUERIES={PQ_MAX_QUERIES} query "
            "rows; chunk the query set and union the per-chunk results"
        )
    books = pq_train_codebooks(corpus, n_codes=n_codes)
    encoded = materialize(pq_encode(corpus, books), "pq_topk codes: both shortlist branches")
    books_np = [np.array(b, dtype=np.float64) for b in books]
    sub = books_np[0].shape[1]
    tables = {}
    for r in q_rows:
        qv = np.array(r.qvec, dtype=np.float64)
        t = np.empty((len(books_np), books_np[0].shape[0]), dtype=np.float64)
        for m, cm in enumerate(books_np):
            qs = qv[m * sub:(m + 1) * sub]
            t[m] = ((cm - qs[None, :]) ** 2).sum(axis=1)
        tables[int(r.query_id)] = t
    bc = spark.sparkContext.broadcast(tables)
    n_cand = rerank * k

    def score(batches):
        tabs = bc.value
        for pdf in batches:
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            ids = pdf["neighbor_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            cols = np.arange(codes.shape[1])
            for qid, t in tabs.items():
                adist = t[cols[None, :], codes].sum(axis=1)
                take = min(n_cand, len(adist))
                idx = np.argpartition(adist, take - 1)[:take]
                out_q.extend([qid] * take)
                out_n.extend(int(i) for i in ids[idx])
                out_d.extend(float(x) for x in adist[idx])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "adist": out_d})

    candidates = encoded.mapInPandas(
        score, schema="query_id long, neighbor_id long, adist double"
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    shortlist = (
        candidates.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= n_cand)
        .select("query_id", "neighbor_id")
    )
    # exact rerank on the true vectors, self-matches excluded
    cand_vecs = corpus.join(
        F.broadcast(shortlist.select("neighbor_id").distinct()), "neighbor_id", "left_semi"
    )
    q = queries.select("query_id", "qvec")
    joined = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(cand_vecs, "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    sims = joined.withColumn("cosine", cosine(F.col("qvec"), F.col("nvec")))
    return rank_topk(sims, k).select("query_id", "rk", "neighbor_id", "cosine")

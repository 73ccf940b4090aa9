#!/usr/bin/env python
"""Scale probe: 10x corpus growth for the dedup / fuzzy / ANN family.

Local testdata tops out at sf0.1, so the 100 TB grades are otherwise
design-argument only.  This one-off probe synthesizes a 10x corpus
(documents 5k -> 50k, embeddings 2k -> 20k, part 20k -> 200k) into a
temp dir, runs each probe query once at sf0.1 and once at 10x, and
prints a growth table (wall time + output rows) for SCALE.md.

Generator fidelity choices (documented, deliberate):

- **Vocabulary scales with the corpus** (Heaps' law).  The sf0.1
  fixture's documents draw from a 31-word vocabulary; replaying that
  vocab at 50k docs saturates the 3-gram shingle space (every shingle's
  df blows past the hot-shingle cap) and would measure a fixture
  artifact, not the operator.  The probe corpus uses a 310-word vocab
  (the original 31 plus 279 synthetic), keeping per-shingle df roughly
  constant — the regime the cap is designed for.
- Documents mirror the fixture's shape: 10-100 tokens/doc, the
  fixture's empirical language distribution, 20 sources, ~0.16%
  injected exact duplicates.
- Part names stay 2-word color-noun names; the first-word vocabulary
  grows 10x (synthetic 4-8 char words) so (prefix, length) block
  cardinality grows with the table as it would for real catalogs.
- Embeddings stay 64-dim float32 with 10 label clusters.

Run:  python tools/scale_probe.py            # writes table to stdout
"""

from __future__ import annotations

import os
import shutil
import string
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
PROBE_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash_hamming",
    "fuzzy_join_part_names",
    "ann_cosine_topk_bruteforce",
    "ann_cosine_topk_matmul",
    "ann_ivf_topk",
    "ann_pq_topk",
    # round-5 operators
    "dedup_canonical_per_cluster",
    "text_global_segment_dedup",
    "text_bpe_train_merges",
    "text_inverted_index_top_terms",
    "embedding_random_projection",
    "bloom_join_building_orders",
    "graph_pagerank_bipartite",
    # round-5 second wave
    "dedup_cross_split_leakage",
    "dedup_ngram_coverage",
    "text_langid_trained_vote",
    # round-5 third wave: the pair-join containment metric, the
    # label-bucketed filtered ANN, and BM25 (term-filtered scan + agg)
    "dedup_containment_pairs",
    "ann_filtered_topk",
    "text_bm25_topk",
    # round-5 fourth wave: the complete (no-recall-loss) similarity join
    "dedup_prefix_filter_join",
    # round-5 fifth wave: graph triangle enumeration, winnowing
    # fingerprint pairs, bigram-LM scoring, DSIR selection.  (The EWMA
    # is a bounded 16-row window — trivially linear — and events pass
    # through the probe unscaled, so it is not probed.)
    "graph_triangle_count",
    "text_winnowing_shared_pairs",
    "text_bigram_lm_nll",
    "sample_dsir_importance",
    # round-5 seventh/eighth wave: the covariance moment agg and the
    # two-pass PCA (embeddings 10x), RAKE (documents 10x, Heaps vocab),
    # and the scan-side hashing trick.  (Target encode / bins / KS /
    # Welch / seasonal / xcorr run over unscaled fixture tables, and
    # Adamic-Adar over the unscaled lineitem basket graph — not probed.)
    "embedding_pca_covariance",
    "embedding_pca_project",
    "text_rake_keywords",
    "feature_hash_trick",
    # round-5 ninth wave: the LSH self-eval (shingle-pass reuse) and
    # the three codec-true container decodes (linear in clip count)
    "dedup_lsh_recall_eval",
    "multimodal_audio_decode",
    "multimodal_image_decode",
    "multimodal_video_frames_real",
    # round-6: the last two >3s bench queries without probe rows.  BFS
    # carries the triangle-count fixture caveat (replicated lineitem
    # reuses part sets, so distinct co-purchase edges don't grow); BPE
    # encode is ~linear in documents against the broadcast merge table.
    "graph_bfs_hops",
    "text_bpe_encode_heldout",
    # round-6: adaptive-bits kNN graph (fixed-bit form measured 18.8x)
    "ann_knn_graph_bucketed",
    # round-6 fourteenth wave: iterative peel + wedge enumeration over
    # the support-filtered co-purchase graph.  Fixture caveat (shared
    # with triangle/BFS): lineitem replicas reuse part baskets, so 10x
    # orders multiplies SUPPORT, not distinct pairs — every support-1
    # pair crosses the >=2 bar, so edges grow by the support-1 share
    # (~2x), not 10x.  Per-round/wedge cost is what the probe measures.
    "graph_kcore_peel_profile",
    "graph_local_clustering_coeff",
    # round-6 fifteenth wave: Lloyd k-means (embeddings 10x; per-round
    # cost is one scan-side assignment + one hash agg, so wall should
    # track corpus size ~linearly)
    "embedding_kmeans_lloyd",
    # round-6 eighteenth wave: power iteration (embeddings 10x; per
    # round two linear passes over the checkpointed N x d table)
    "embedding_power_iteration_top_pc",
    # round-6 twentieth wave: LPA (same fixture caveat as k-core) and
    # the image dHash pipeline (documents 10x -> 10x decodes; dup-group
    # size constant so the band join stays linear)
    "graph_label_propagation",
    "multimodal_image_dhash_neardup",
    # round-6 twenty-first+ waves: interval join (candidates track
    # |A| x bucket density — both grow with orders, so expect ~x100
    # candidate volume; the semantics are output-proportional), basket
    # rules (linear basket explode), KN scoring (model-as-table joins,
    # documents 10x), RRF fusion (brute-force family: Q x N pairs).
    "intervals_overlap_join",
    "basket_association_rules",
    "text_kneser_ney_nll",
    "ann_hybrid_rrf_fusion",
    # round-6: token-grain divergence (documents 10x, Heaps vocab)
    "text_js_divergence_sources",
    "text_heaps_vocab_growth",
    "multimodal_audio_fp_neardup",
    # round-6 late waves: TF-IDF cosine pair join (documents 10x, df-cap
    # bounded fan-out), DBSCAN (customer 10x -> 10x density; eps-neighbor
    # pair volume is output-proportional like intervals_overlap_join),
    # HITS (distinct cust-supp edges ~10x, per-round linear joins), AUC
    # (embeddings 10x, value-grain), conformal (lineitem 10x, moment agg
    # + |R|-grain window).  Decision stump / Holt / bitmap profile ride
    # the unscaled events fixture — not probed.
    "text_tfidf_cosine_pairs",
    "geo_dbscan_clusters",
    # session-3 late: TextRank (vocabulary-bounded rank state; the
    # +-2-window self-join is per-doc linear) and the DEFLATE pass
    # (byte-linear mapInPandas)
    "text_textrank_keywords",
    "text_zlib_compression_quality",
    "graph_hits_hubs_authorities",
    "stats_roc_auc",
    "mlprep_conformal_intervals",
    # round-13: both scale with documents (seed-gram join is the
    # contamination cost driver; the pruned postings bound the
    # retrieval join at P docs/term regardless of corpus size)
    "contamination_longest_match",
    "text_impact_sparse_retrieval",
]
SCALE = int(os.environ.get("SCALE_PROBE_FACTOR", "10"))


def synth_tables(out_dir: str) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    con = duckdb.connect()

    # ----- documents: 10x rows, 10x vocab -----------------------------
    base_vocab = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT unnest(string_split(text, ' ')) FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    ]
    vocab = base_vocab + [f"w{i:03d}" for i in range(len(base_vocab) * (SCALE - 1))]
    vocab = np.array(vocab)
    langs, lang_counts = zip(
        *con.execute(
            f"SELECT lang, count(*) FROM read_parquet('{SF_DIR}/documents.parquet') GROUP BY 1"
        ).fetchall()
    )
    lang_p = np.array(lang_counts, dtype=float) / sum(lang_counts)

    n_docs = 5000 * SCALE
    n_tok = rng.integers(10, 101, size=n_docs)
    texts = [" ".join(rng.choice(vocab, size=k)) for k in n_tok]
    # ~0.16% exact duplicates (the fixture has 8 dup pairs / 5000 docs)
    for i in rng.choice(n_docs, size=n_docs // 625, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    doc_tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(langs, size=n_docs, p=lang_p)),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(doc_tbl, os.path.join(out_dir, "documents.parquet"))

    # ----- part: 10x rows, growing first-word vocabulary --------------
    part = con.execute(f"SELECT * FROM read_parquet('{SF_DIR}/part.parquet')").df()
    names = part["p_name"].tolist()
    first_words = sorted({n.split(" ")[0] for n in names})
    second_words = sorted({n.split(" ", 1)[1] for n in names})
    synth_first = [
        "".join(rng.choice(list(string.ascii_lowercase), size=int(rng.integers(4, 9))))
        for _ in range(len(first_words) * (SCALE - 1))
    ]
    all_first = np.array(first_words + synth_first)
    n_base = len(part)
    frames = [part]
    for i in range(1, SCALE):
        rep = part.copy()
        rep["p_partkey"] = rep["p_partkey"] + i * (part["p_partkey"].max() + 1)
        rep["p_name"] = [
            f"{all_first[int(j)]} {second_words[int(rng.integers(0, len(second_words)))]}"
            for j in rng.integers(0, len(all_first), size=n_base)
        ]
        frames.append(rep)
    import pandas as pd

    pq.write_table(
        pa.Table.from_pandas(pd.concat(frames, ignore_index=True), preserve_index=False),
        os.path.join(out_dir, "part.parquet"),
    )

    # ----- embeddings: 10x rows, 10 label clusters, dim 64 ------------
    n_vec, dim, n_lab = 2000 * SCALE, 64, 10
    centers = rng.normal(size=(n_lab, dim))
    labels = rng.integers(0, n_lab, size=n_vec)
    vecs = (centers[labels] * 0.5 + rng.normal(size=(n_vec, dim))).astype(np.float32)
    emb_tbl = pa.table(
        {
            "vec_id": pa.array(range(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(emb_tbl, os.path.join(out_dir, "embeddings.parquet"))

    # ----- orders/lineitem: 10x rows (key-shifted replicas) -----------
    # Same customers and suppliers, 10x the orders — the realistic way
    # an order fact grows — so the bloom probe's dim stays fixed while
    # its fact scales, and the bipartite graph gains edges, not nodes.
    import pandas as pd

    orders = con.execute(f"SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')").df()
    lineitem = con.execute(f"SELECT * FROM read_parquet('{SF_DIR}/lineitem.parquet')").df()
    okey_stride = int(orders["o_orderkey"].max()) + 1
    # SCALE_PROBE_SCALE_BASKETS=1: permute l_partkey per replica with an
    # affine map over the part-key rank space (A coprime with |parts|),
    # so each replica's baskets pair DIFFERENT parts.  Default replicas
    # reuse the base baskets verbatim, which grows co-purchase SUPPORT
    # but not DISTINCT edges — fine for support-filtered probes, but it
    # left the triangle intersect stage unprobed: out-degree arrays
    # never grew (VERDICT r11 task 6).  With the permutation, distinct
    # edges grow ~SCALEx and per-node degree ~SCALEx while the node set
    # stays fixed — exactly the axis the O(sqrt(m)) orientation bound
    # is about.
    scale_baskets = os.environ.get("SCALE_PROBE_SCALE_BASKETS") == "1"
    if scale_baskets:
        import math

        pk_sorted = np.sort(lineitem["l_partkey"].unique())
        n_pk = len(pk_sorted)
        pk_rank = pd.Series(np.arange(n_pk), index=pk_sorted)
        base_rank = pk_rank[lineitem["l_partkey"].to_numpy()].to_numpy()
    o_frames, l_frames = [orders], [lineitem]
    for i in range(1, SCALE):
        o_rep = orders.copy()
        o_rep["o_orderkey"] = o_rep["o_orderkey"] + i * okey_stride
        # re-draw the customer per replica so new orders aren't clones
        o_rep["o_custkey"] = rng.permutation(o_rep["o_custkey"].to_numpy())
        o_frames.append(o_rep)
        l_rep = lineitem.copy()
        l_rep["l_orderkey"] = l_rep["l_orderkey"] + i * okey_stride
        if scale_baskets:
            a = 2 * i + 3
            while math.gcd(a, n_pk) != 1:
                a += 2
            l_rep["l_partkey"] = pk_sorted[(base_rank * a + 17 * i) % n_pk]
        l_frames.append(l_rep)
    pq.write_table(
        pa.Table.from_pandas(pd.concat(o_frames, ignore_index=True), preserve_index=False),
        os.path.join(out_dir, "orders.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(pd.concat(l_frames, ignore_index=True), preserve_index=False),
        os.path.join(out_dir, "lineitem.parquet"),
    )

    # ----- customer: opt-in 10x (geo probes) --------------------------
    # Default is pass-through (the bloom/pagerank probes NEED the dim
    # fixed while the fact scales).  SCALE_PROBE_SCALE_CUSTOMER=1 emits
    # key-shifted replicas instead: geo coordinates derive from
    # md5(c_custkey), so new keys land at fresh uniform spots in the
    # same 2-degree box — point DENSITY grows 10x, the stress axis for
    # grid-blocked spatial joins.  Use a separate SCALE_PROBE_DIR.
    passthrough = ["region", "nation", "supplier", "events"]
    if os.environ.get("SCALE_PROBE_SCALE_CUSTOMER") == "1":
        cust = con.execute(f"SELECT * FROM read_parquet('{SF_DIR}/customer.parquet')").df()
        ckey_stride = int(cust["c_custkey"].max()) + 1
        c_frames = [cust]
        for i in range(1, SCALE):
            c_rep = cust.copy()
            c_rep["c_custkey"] = c_rep["c_custkey"] + i * ckey_stride
            c_frames.append(c_rep)
        pq.write_table(
            pa.Table.from_pandas(pd.concat(c_frames, ignore_index=True), preserve_index=False),
            os.path.join(out_dir, "customer.parquet"),
        )
    else:
        passthrough.append("customer")

    # remaining fixture tables pass through unchanged
    for name in passthrough:
        shutil.copyfile(
            os.path.join(SF_DIR, f"{name}.parquet"), os.path.join(out_dir, f"{name}.parquet")
        )


def _triangle_stages(spark, sf_dir: str) -> dict:
    """Stage-split replay of queries/scale.py::graph_triangle_count —
    pair generation + orientation materialized first, then the
    adjacency-build + intersect stage timed on its own, plus the
    out-degree profile that the O(sqrt(m)) orientation bound governs.
    Probe-only duplication of the query's plan, kept in lockstep by the
    n_triangles cross-print."""
    import time as _t

    from pyspark.sql import functions as F

    from form700_etl_spark.io import table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    t0 = _t.perf_counter()
    co = (
        li.groupBy("l_orderkey").agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(F.explode(F.expr(
            "flatten(transform(ps, (x, i) ->"
            " transform(slice(ps, i+2, size(ps)), y -> struct(x AS u, y AS v))))"
        )).alias("p"))
        .select("p.u", "p.v")
        .distinct()
        .localCheckpoint()
    )
    deg = (
        co.select(F.col("u").alias("node"))
        .unionByName(co.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    okey = deg.select("node", (F.col("d") * 1000000000 + F.col("node")).alias("k"))
    ku = okey.select(F.col("node").alias("u"), F.col("k").alias("ku"))
    kv = okey.select(F.col("node").alias("v"), F.col("k").alias("kv"))
    oriented = (
        co.join(ku, "u").join(kv, "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint()
    )
    pairgen_s = _t.perf_counter() - t0
    n_edges = oriented.count()
    outdeg = oriented.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    od = outdeg.agg(
        F.max("od").alias("mx"), F.avg("od").alias("avg")
    ).collect()[0]
    t0 = _t.perf_counter()
    adj = oriented.groupBy("s").agg(F.collect_list("t").alias("nbrs"))
    tri = (
        oriented.join(adj, "s")
        .join(adj.select(F.col("s").alias("t"), F.col("nbrs").alias("nbrs_t")), "t")
        .select(F.size(F.array_intersect("nbrs", "nbrs_t")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles"))
    ).collect()[0][0]
    intersect_s = _t.perf_counter() - t0
    return {
        "n_edges": n_edges,
        "max_outdeg": int(od["mx"]),
        "avg_outdeg": round(float(od["avg"]), 2),
        "sqrt_2m": round((2 * n_edges) ** 0.5, 1),
        "pairgen_s": round(pairgen_s, 2),
        "intersect_s": round(intersect_s, 2),
        "n_triangles": int(tri),
    }


def _shingle_stages(spark, sf_dir: str) -> dict:
    """Stage-split replay of the dedup family's shared pipeline
    (VERDICT r12 task 8): the shingle-cache POPULATE (scan -> 3-gram
    explode -> distinct), the df-cap derivation on top of it, the
    12-hash minhash signature agg, and the banded LSH candidate join —
    each timed cold in sequence, so the populate the bench now reports
    as a prestep has a measured growth ratio, not an asserted one.
    Model: every stage is row-linear at roughly constant per-shingle df
    (the probe corpus scales vocabulary with the corpus per Heaps' law,
    so df stays fixture-like); the band join adds an n_docs x n_bands
    shuffle.  Expect ~SCALEx wall per stage at 10x docs."""
    import time as _t

    from form700_etl_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        drop_hot_shingles,
        lsh_candidates,
        minhash_signatures,
        shingle,
    )
    from form700_etl_spark.io import table

    docs = table(spark, sf_dir, "documents")
    t0 = _t.perf_counter()
    sh = shingle(docs, n=3).localCheckpoint()
    n_shingle_rows = sh.count()
    populate_s = _t.perf_counter() - t0

    t0 = _t.perf_counter()
    capped = drop_hot_shingles(sh, MAX_SHINGLE_DF).localCheckpoint()
    n_capped = capped.count()
    cap_s = _t.perf_counter() - t0

    t0 = _t.perf_counter()
    sig = minhash_signatures(sh).localCheckpoint()
    n_docs = sig.count()
    signature_s = _t.perf_counter() - t0

    t0 = _t.perf_counter()
    n_candidates = lsh_candidates(sig).count()
    band_join_s = _t.perf_counter() - t0
    return {
        "n_docs": n_docs,
        "n_shingle_rows": n_shingle_rows,
        "n_capped_rows": n_capped,
        "n_candidates": n_candidates,
        "populate_s": round(populate_s, 2),
        "cap_s": round(cap_s, 2),
        "signature_s": round(signature_s, 2),
        "band_join_s": round(band_join_s, 2),
    }


def main() -> None:
    from form700_etl_spark.registry import all_queries
    from form700_etl_spark.session import get_spark

    out_dir = os.environ.get("SCALE_PROBE_DIR") or tempfile.mkdtemp(prefix="spark_graft_10x_")
    if not os.path.exists(os.path.join(out_dir, "documents.parquet")):
        print(f"# synthesizing 10x corpus in {out_dir}", flush=True)
        synth_tables(out_dir)

    spark = get_spark("scale-probe")
    queries = all_queries()
    if "--shingle-stages" in sys.argv:
        # warm codegen/JIT at sf0.01 first (same convention as the query
        # probes) — an unwarmed first pass measures compilation, not
        # data: observed populate 5.69 s cold at sf0.1 vs 2.79 s for
        # 10x the rows immediately after
        _shingle_stages(spark, "/root/testdata/sf0.01")
        for label, d in (("sf0.1", SF_DIR), (f"{SCALE}x", out_dir)):
            r = _shingle_stages(spark, d)
            print(f"shingle_stages[{label}]: {r}", flush=True)
        spark.stop()
        return
    if "--triangle-stages" in sys.argv:
        # run with SCALE_PROBE_SCALE_BASKETS=1 (+ its own SCALE_PROBE_DIR)
        # so distinct edges actually grow between the two corpora
        for label, d in (("sf0.1", SF_DIR), (f"{SCALE}x", out_dir)):
            r = _triangle_stages(spark, d)
            print(f"triangle_stages[{label}]: {r}", flush=True)
        spark.stop()
        return
    probe = [a for a in sys.argv[1:] if not a.startswith("-")] or PROBE_QUERIES
    print(f"| query | sf0.1 s | 10x s | time ratio | sf0.1 rows | 10x rows | row ratio |")
    print(f"|---|---|---|---|---|---|---|")
    for name in probe:
        fn = queries[name].fn
        fn(spark, "/root/testdata/sf0.01").count()  # warm codegen/JIT for this plan
        res = {}
        for label, d in (("base", SF_DIR), ("10x", out_dir)):
            start = time.perf_counter()
            rows = fn(spark, d).count()
            res[label] = (time.perf_counter() - start, rows)
        t0, r0 = res["base"]
        t1, r1 = res["10x"]
        print(
            f"| {name} | {t0:.2f} | {t1:.2f} | {t1 / t0:.1f}x "
            f"| {r0} | {r1} | {r1 / max(r0, 1):.1f}x |",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()

"""Recall lower bounds on the CLUSTERED embedding fixture
(tools/clustered_fixture.py) — the regime IVF/PQ are built for.

The driver fixture is isotropic noise (adversarial for partition-based
ANN; see ANN_EVAL.json fixture_diagnosis), so its recall tests can only
pin weak bounds.  These tests pin the strong-signal regime: on a
cluster-aligned corpus the indexes must actually recover the true
neighbors, or the operator (not the fixture) is broken."""

from __future__ import annotations

import pytest


def _corpus(spark, n=600, dim=32, clusters=6):
    from tools.clustered_fixture import exact_topk, make_clustered_embeddings

    vecs, _ = make_clustered_embeddings(n=n, dim=dim, n_clusters=clusters)
    truth = exact_topk(vecs, k=5)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    q = df.filter("vec_id % 50 = 0").selectExpr(
        "vec_id AS query_id", "vec AS qvec"
    )
    c = df.selectExpr("vec_id AS neighbor_id", "vec AS nvec")
    return q, c, truth


def _recall(rows, truth) -> float:
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(by_q.get(qid, set()) & t) for qid, t in truth.items())
    return hits / (5 * len(truth))


def test_ivf_recovers_clustered_neighbors(spark):
    from form700_etl_spark.operators.similarity import ivf_topk

    q, c, truth = _corpus(spark)
    got = ivf_topk(q, c, k=5, n_centroids=6, n_probe=2).collect()
    assert _recall(got, truth) >= 0.9, _recall(got, truth)


def test_pq_recall_grows_with_rerank_budget(spark):
    """The shortlist trade measured in ANN_EVAL's crossover: tiny
    rerank samples the query's cluster, a bigger budget recovers the
    exact top-k after the ADC scan."""
    from form700_etl_spark.operators.similarity import pq_topk

    q, c, truth = _corpus(spark)
    small = _recall(pq_topk(q, c, k=5, rerank=4).collect(), truth)
    big = _recall(pq_topk(q, c, k=5, rerank=24).collect(), truth)
    assert big >= 0.85, (small, big)
    assert big >= small, (small, big)


def test_fixture_writer_roundtrip(spark, tmp_path):
    """write_fixture emits the driver fixture's exact schema, so the
    generated dir works as sf_dir for embedding queries."""
    from form700_etl_spark.io import table
    from tools.clustered_fixture import make_clustered_embeddings, write_fixture

    vecs, labels = make_clustered_embeddings(n=120, dim=8, n_clusters=4)
    write_fixture(str(tmp_path), vecs, labels)
    df = table(spark, str(tmp_path), "embeddings")
    assert df.count() == 120
    assert [f.name for f in df.schema.fields] == ["vec_id", "embedding", "label"]
    assert dict(df.dtypes)["embedding"] == "array<float>"


def test_kmeans_seeding_survives_fewer_distinct_vectors_than_centroids(spark):
    """ADVICE r13: with fewer distinct sample vectors than centroids,
    farthest-point seeding used to argmax an all-zero distance vector
    and emit duplicate index-0 centroids forever.  Now it stops seeding
    and pads from the init rows — no crash, no infinite duplicates."""
    from form700_etl_spark.operators.similarity import kmeans_centroids

    rows = [(i, [float(i % 2), 1.0]) for i in range(10)]  # 2 distinct vecs
    df = spark.createDataFrame(rows, "neighbor_id long, nvec array<double>")
    cents = kmeans_centroids(df, n_centroids=4)
    assert 2 <= len(cents) <= 4
    seen = {tuple(v) for _, v in cents}
    # the 2 distinct input points must both be represented
    assert len(seen) >= 2, cents


def test_pq_topk_input_guards(spark, monkeypatch):
    """pq_topk refuses a vector dimension that PQ_SUBSPACES does not
    divide, and a query set larger than PQ_MAX_QUERIES (patched down to
    2 so the corpus stays tiny) before it trains codebooks or encodes
    the corpus: no job but the query-side collect runs."""
    from form700_etl_spark import profile
    from form700_etl_spark.operators import similarity

    monkeypatch.setattr(similarity, "PQ_MAX_QUERIES", 2)

    def sides(dim, n_queries=6):
        rows = [(i, [float(1 + (i + j) % 3) for j in range(dim)]) for i in range(6)]
        df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
        return (
            df.where(f"vec_id < {n_queries}").selectExpr("vec_id AS query_id", "vec AS qvec"),
            df.selectExpr("vec_id AS neighbor_id", "vec AS nvec"),
        )

    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_topk(*sides(similarity.PQ_SUBSPACES + 1, n_queries=2), k=1)
    before = profile.last_job_id(spark)
    with pytest.raises(ValueError, match="PQ_MAX_QUERIES=2"):
        similarity.pq_topk(*sides(similarity.PQ_SUBSPACES), k=1)
    # the limit-collect may take more than one job, all from its one call site
    names = {j["name"] for j in profile.jobs(spark, after=before)}
    assert len(names) <= 1 and all(n.startswith("collect at ") for n in names), names

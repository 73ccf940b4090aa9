"""Laws for the DEFLATE quality signal: repetitive text compresses
far better than high-entropy text, ratios are deterministic across
partitionings, and byte counts are exact."""

from __future__ import annotations

import zlib


def test_monotonicity_and_exactness(spark, sf_dir):
    from form700_etl_spark.registry import all_queries

    rows = (
        all_queries()["text_zlib_compression_quality"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) > 0
    # exactness: recompute a sample locally
    from form700_etl_spark.io import table

    src = dict(
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(20)
        .collect()
    )
    for r in rows[:20]:
        if r["doc_id"] in src:
            t = src[r["doc_id"]].encode("utf-8")
            assert r["raw_bytes"] == len(t)
            assert r["deflate_bytes"] == len(zlib.compress(t, 6))


def test_repetition_separates_from_noise():
    import zlib

    import hashlib

    rep = ("the same boilerplate line over and over " * 100).encode()
    noise = b""
    i = 0
    while len(noise) < len(rep):
        noise += hashlib.sha256(f"noise:{i}".encode()).digest()
        i += 1
    noise = noise[: len(rep)]
    r_rep = len(zlib.compress(rep, 6)) / len(rep)
    r_noise = len(zlib.compress(noise, 6)) / len(noise)
    assert r_rep < 0.05 < 0.9 < r_noise


def test_partitioning_invariance(spark, sf_dir, monkeypatch):
    """The operator's rows do not depend on how ``documents`` is
    partitioned: the same query over a 13-partition round-robin of the
    table returns the default partitioning's rows."""
    import form700_etl_spark.queries.textops as textops

    fn = textops.text_zlib_compression_quality
    a = fn(spark, sf_dir).collect()
    real_table = textops.table
    monkeypatch.setattr(
        textops, "table", lambda s, d, name: real_table(s, d, name).repartition(13)
    )
    b = fn(spark, sf_dir)
    plan = b._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        b._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )
    assert "RoundRobinPartitioning(13)" in plan, plan
    assert a == b.collect()

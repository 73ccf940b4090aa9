"""The one width and the one fan-out rule (``io.width``, ``io.fan_out``),
and the one per-record Python operator (``io.map_records``).

``fan_out`` decides from the files a frame reads, so deciding runs no
job even below a broadcast or an exchange; a frame read from at least
``width`` files passes through unshuffled; and the sites that size work
read ``io.width``, never ``spark.sql.shuffle.partitions``.
``map_records`` returns exactly the rows its ``fn`` yields for each
input row, as a driver-side loop over the same rows would."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from form700_etl_spark import profile
from form700_etl_spark.io import fan_out, map_records, materialize, table, width


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_fan_out_below_a_broadcast_semi_join_runs_no_job(spark, sf_dir):
    """verify_jaccard's shape: documents semi-joined to a broadcast of
    materialized candidate ids.  A partition probe of this frame runs
    its AQE stages (the broadcast among them); reading its files runs
    none."""
    docs = table(spark, sf_dir, "documents")
    pairs = materialize(
        docs.select(F.col("doc_id").alias("d1"), (F.col("doc_id") + 1).alias("d2")).limit(20),
        "test candidate pairs",
    )
    cand_docs = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionByName(pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    cand = docs.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    before = profile.last_job_id(spark)
    out = fan_out(cand)
    assert profile.jobs(spark, after=before) == []
    assert f"RoundRobinPartitioning({width(spark)})" in _plan(out)


def test_one_file_scan_fans_out_to_width(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    assert len(docs.inputFiles()) == 1
    n = width(spark)
    assert f"RoundRobinPartitioning({n})" in _plan(fan_out(docs))
    keyed = _plan(fan_out(docs, "doc_id"))
    assert re.search(rf"hashpartitioning\(doc_id#\d+L?, {n}\)", keyed), keyed


def test_scan_of_width_files_passes_through(spark, tmp_path):
    """A parquet directory of ``width`` or more files is already spread:
    the frame comes back as it was, with no exchange in its plan."""
    n = width(spark)
    path = str(tmp_path / "wide")
    spark.range(0, 10 * n, 1, n).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= n
    assert fan_out(df) is df
    assert "Exchange" not in _plan(fan_out(df, "id"))


def test_sizing_sites_read_width_not_shuffle_partitions(spark, sf_dir, monkeypatch):
    """With ``spark.sql.shuffle.partitions`` unset (as on a session not
    built by ``get_spark``) the audio fan-out and a default prefix sum
    are still sized ``io.width``, not the conf's default of 200."""
    from form700_etl_spark.operators import prefix
    from form700_etl_spark.operators.multimodal import synthesize_dedup_audio

    subplans: list[str] = []

    def capturing(df, reason):
        subplans.append(_plan(df))
        return materialize(df, reason)

    monkeypatch.setattr(prefix, "materialize", capturing)
    n = width(spark)
    conf = spark.conf
    saved = conf.get("spark.sql.shuffle.partitions")
    conf.unset("spark.sql.shuffle.partitions")
    try:
        audio = _plan(synthesize_dedup_audio(spark, sf_dir))
        prefix.partitioned_prefix_sum(spark.range(100), ["id"], rank_col="rk")
    finally:
        conf.set("spark.sql.shuffle.partitions", saved)
    assert re.search(rf"hashpartitioning\(.*, {n}\), REPARTITION_BY_NUM", audio), audio
    assert len(subplans) == 1
    assert re.search(rf"rangepartitioning\(id#\d+L? ASC NULLS FIRST, {n}\)", subplans[0]), subplans[0]


def _same_as_driver_loop(df, fn, schema: str) -> list:
    got = [tuple(r) for r in map_records(df, fn, schema).collect()]
    assert got == [out for row in df.collect() for out in fn(*row)]
    return got


def test_map_records_zero_one_or_many_rows_per_record(spark):
    def fn(i):
        return [(i, k) for k in range((0, 1, 3)[i % 3])]

    got = _same_as_driver_loop(spark.range(0, 9, 1, 2), fn, "id long, k int")
    assert len(got) == 3 * (0 + 1 + 3)


def test_map_records_null_input_arrives_as_none(spark):
    df = spark.range(6).selectExpr("IF(id % 2 = 0, NULL, CAST(id AS STRING)) AS s")
    got = _same_as_driver_loop(df, lambda s: [(s, s is None)], "s string, was_null boolean")
    assert [r[1] for r in got] == [True, False] * 3


def test_map_records_passes_columns_in_frame_order(spark):
    df = spark.range(5).selectExpr("CAST(id AS STRING) AS a", "id * 10 AS b")
    got = _same_as_driver_loop(df, lambda a, b: [(f"{a}:{b}", b - int(a))], "ab string, d long")
    assert got[2] == ("2:20", 18)


def test_map_records_empty_partitions_keep_the_schema_types(spark):
    """A filter empties two of four partitions, and ``fn`` drops every
    row of a third: a frame built from no rows must still convert to
    each field's Arrow type."""
    schema = "id long, s string, b binary, x double, f boolean, n array<int>"
    df = spark.range(0, 16, 1, 4).filter("id >= 8")

    def fn(i):
        if i < 12:
            return []
        return [(i, str(i), bytes([i]), i / 2, i % 2 == 0, [i, -i])]

    got = _same_as_driver_loop(df, fn, schema)
    assert [r[0] for r in got] == [12, 13, 14, 15]
    assert got[0][2] == bytearray(b"\x0c") and got[0][5] == [12, -12]

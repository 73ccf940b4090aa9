"""Training-shard export sink: determinism, size bounds, manifest audit."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from form700_etl_spark.io import table
from form700_etl_spark.sinks.shards import (
    content_hash_col,
    export_with_manifest,
    shard_manifest,
    write_training_shards,
)


@pytest.fixture()
def docs(spark, sf_dir):
    return table(spark, sf_dir, "documents").select("doc_id", "text", "lang")


def _data_files(path: str) -> list[str]:
    return sorted(
        f for f in glob.glob(os.path.join(path, "part-*"))
        if not f.endswith(".crc")
    )


def _by_part_index(manifest_rows):
    """Aggregate manifest rows per shard (part index): a shard split
    into several c000/c001 files by maxRecordsPerFile must contribute
    ALL its files' counts/hashes, not last-write-wins."""
    agg: dict[str, tuple[int, int]] = {}
    for r in manifest_rows:
        idx = r.shard_file.split("-")[1]
        n, h = agg.get(idx, (0, 0))
        agg[idx] = (n + r.n_rows, h + int(r.content_hash))
    return agg


class TestShardExport:
    def test_row_complete_and_size_bounded(self, spark, docs, tmp_path):
        path = str(tmp_path / "shards")
        write_training_shards(docs, path, "doc_id", n_shards=4,
                              max_records_per_file=100)
        back = spark.read.schema(docs.schema).json(path)
        assert back.count() == docs.count()
        per_file = (
            back.groupBy(F.input_file_name().alias("f")).count().collect()
        )
        assert all(r["count"] <= 100 for r in per_file)
        # 500 docs / 100-row cap -> at least 5 data files
        assert len(_data_files(path)) >= 5

    def test_shard_assignment_deterministic(self, spark, docs, tmp_path):
        p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
        for p in (p1, p2):
            write_training_shards(docs, p, "doc_id", n_shards=4,
                                  max_records_per_file=1000)
        m1 = _by_part_index(shard_manifest(spark, p1, schema=docs.schema).collect())
        m2 = _by_part_index(shard_manifest(spark, p2, schema=docs.schema).collect())
        # part index (part-00000..) identifies the hash shard; both runs
        # must produce identical per-shard row counts and content hashes
        assert m1 == m2

    def test_manifest_total_hash_matches_source(self, spark, docs, tmp_path):
        path = str(tmp_path / "shards")
        manifest = export_with_manifest(docs, path, "doc_id", n_shards=4,
                                        max_records_per_file=1000)
        total = manifest.agg(
            F.sum("n_rows").alias("n"), F.sum("content_hash").alias("h")
        ).collect()[0]
        src = docs.select(content_hash_col(docs).alias("h")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")
        ).collect()[0]
        assert (total.n, total.h) == (src.n, src.h)
        # the persisted manifest CSV exists and covers every data file
        csv = glob.glob(os.path.join(path, "_MANIFEST", "part-*.csv"))
        assert len(csv) == 1
        n_listed = sum(1 for _ in open(csv[0])) - 1  # header
        assert n_listed == len(_data_files(path))

    def test_truncation_detected(self, spark, docs, tmp_path):
        path = str(tmp_path / "shards")
        write_training_shards(docs, path, "doc_id", n_shards=4,
                              max_records_per_file=1000)
        victim = _data_files(path)[0]
        os.remove(victim)
        crc = os.path.join(os.path.dirname(victim),
                           "." + os.path.basename(victim) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        manifest = shard_manifest(spark, path, schema=docs.schema)
        written = manifest.agg(F.sum("n_rows")).collect()[0][0] or 0
        assert written < docs.count()


class TestStreamExport:
    def test_available_now_backfill_then_idempotent_restart(self, spark, sf_dir, tmp_path):
        from form700_etl_spark.sinks.shards import stream_export_shards

        out = str(tmp_path / "stream_shards")
        ckpt = str(tmp_path / "ckpt")
        stream_export_shards(spark, sf_dir, out, ckpt)

        src = table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
        docs_schema = table(spark, sf_dir, "documents").schema
        back = (
            spark.read.schema(docs_schema)
            .option("recursiveFileLookup", True)
            .json(out)
        )
        assert back.count() == src.count()
        first_files = sorted(
            f for f in glob.glob(os.path.join(out, "**", "part-*"), recursive=True)
            if not f.endswith(".crc")
        )
        mtimes = {f: os.path.getmtime(f) for f in first_files}

        # restart from the same checkpoint: no new input -> no new output
        stream_export_shards(spark, sf_dir, out, ckpt)
        second_files = sorted(
            f for f in glob.glob(os.path.join(out, "**", "part-*"), recursive=True)
            if not f.endswith(".crc")
        )
        assert second_files == first_files
        assert all(os.path.getmtime(f) == mtimes[f] for f in second_files)

    def test_epoch_tree_manifest_composes_with_batch(self, spark, sf_dir, docs, tmp_path):
        """The documented corpus-level manifest over a streamed
        epoch=N tree: partition discovery must NOT inject an 'epoch'
        column into the row hashes, so the streamed tree's total
        fingerprint equals a batch export's fingerprint of the same
        rows."""
        from form700_etl_spark.sinks.shards import stream_export_shards

        out = str(tmp_path / "stream")
        stream_export_shards(spark, sf_dir, out, str(tmp_path / "ckpt"))
        batch = str(tmp_path / "batch")
        curated = table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
        write_training_shards(curated, batch, "doc_id", n_shards=2,
                              max_records_per_file=1000)
        schema = curated.schema

        def total(path):
            m = shard_manifest(spark, path, schema=schema)
            r = m.agg(F.sum("n_rows").alias("n"), F.sum("content_hash").alias("h")).collect()[0]
            return (r.n, r.h)

        assert total(out) == total(batch)

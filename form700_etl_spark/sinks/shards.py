"""Training-shard export sink: curated corpus → size-bounded JSONL (or
parquet) shards plus a verifiable manifest.

The last step of a data-curation pipeline is materializing training
shards that a loader can stream — many same-sized files, stable
assignment, and a manifest that lets the consumer verify completeness
without trusting the producer.

Spark-first design (no driver-side row handling anywhere):

- Shard ASSIGNMENT is a deterministic hash partition on a caller-chosen
  key (``repartition(n_shards, hash_key)``), so a re-run — or a second
  engine — lands every row in the same shard.  At 100 TB the
  per-shard writers run fully parallel; there is exactly one shuffle.
- Shard SIZE is additionally bounded with the writer option
  ``maxRecordsPerFile`` — Spark's own file-splitting machinery (the
  same control a lakehouse compaction job uses), not a custom writer.
- The MANIFEST is computed by reading the written files BACK and
  aggregating per ``input_file_name()``: row count plus an
  order-independent content hash (sum of xxhash64 over the serialized
  row).  Reading back what was actually committed — rather than
  trusting counters captured during the write — is what makes the
  manifest an audit: it would catch a lost/truncated file.  This is
  the same read-back-reconciliation stance as the chunked sink's
  count audit (reference Form700.py's count reconciliation, A3).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import materialize


def content_hash_col(df: DataFrame) -> Column:
    """THE canonical per-row content hash: xxhash64 of the row rendered
    as JSON with columns in sorted-name order, cast to decimal(38,0)
    so sums cannot overflow under ANSI mode.  Summed per group it is
    an order-independent, mergeable multiset fingerprint.  Every
    fingerprint in this repo (manifest audit, determinism law tests)
    must build on this single definition — two divergent
    canonicalizations would compare different things while appearing
    to agree."""
    row_repr = F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)]))
    return F.xxhash64(row_repr).cast("decimal(38,0)")


def write_training_shards(df: DataFrame, path: str, shard_key: str,
                          n_shards: int, max_records_per_file: int,
                          fmt: str = "json") -> None:
    """Write ``df`` as ``n_shards`` deterministic hash shards (each
    further split at ``max_records_per_file`` rows), format ``json``
    (JSONL — one object per line, the interchange format training
    loaders actually consume) or ``parquet``."""
    (
        df.repartition(n_shards, F.col(shard_key))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .format(fmt)
        .save(path)
    )


def shard_manifest(spark: SparkSession, path: str, fmt: str = "json",
                   schema=None) -> DataFrame:
    """Manifest of a shard directory from the files themselves:
    (shard_file, n_rows, content_hash).  ``content_hash`` is the sum of
    xxhash64 over the canonically-serialized row — order-independent,
    so it is stable under Spark's nondeterministic row order within a
    file read, and mergeable across shards (the TOTAL corpus hash is
    the sum of shard hashes).  The per-row hash is summed as
    decimal(38,0): ANSI mode makes a long sum throw on overflow, and a
    38-digit accumulator holds ~1e12 rows of int64 hashes exactly.

    The reader always uses ``recursiveFileLookup`` — a manifest over a
    streamed ``epoch=N`` export tree must hash the ROWS, and default
    partition discovery would append a synthetic ``epoch`` column that
    changes every row's hash (the batch and streamed manifests of
    identical data would then never agree)."""
    reader = spark.read.option("recursiveFileLookup", True)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.format(fmt).load(path)
    return (
        df.select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("shard_file"),
            content_hash_col(df).alias("h"),
        )
        .groupBy("shard_file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").alias("content_hash"),
        )
    )


def export_with_manifest(df: DataFrame, path: str, shard_key: str,
                         n_shards: int, max_records_per_file: int,
                         fmt: str = "json") -> DataFrame:
    """Write shards, then build + persist the read-back manifest next to
    them (``_MANIFEST`` subdirectory, single CSV part) and return it.
    Raises if the read-back row total disagrees with the source — the
    completeness audit a consumer would otherwise have to run.

    The expected row count is captured from the WRITE pass itself via
    the ``Observation`` API (a count metric attached to the plan), not
    a separate ``df.count()`` job — at 100 TB a second full scan of
    the source just to learn its cardinality is the kind of hidden
    double-read this sink exists to audit away (same single-pass
    stance as the chunked sink's per-partition count records)."""
    from pyspark.sql import Observation

    spark = df.sparkSession
    obs = Observation("shard_export")
    df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    write_training_shards(df, path, shard_key, n_shards, max_records_per_file, fmt=fmt)
    expected = obs.get["n_rows"]
    manifest = materialize(
        shard_manifest(spark, path, fmt=fmt, schema=df.schema),
        "export_with_manifest manifest: count audit, CSV write and caller",
    )
    written = manifest.agg(F.sum("n_rows")).collect()[0][0] or 0
    if written != expected:
        raise RuntimeError(
            f"shard export row mismatch: wrote {written}, expected {expected} at {path}"
        )
    (
        manifest.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(os.path.join(path, "_MANIFEST"))
    )
    return manifest


# stream_export_shards: quality gate, shard count and per-file bound
STREAM_EXPORT_MIN_CHARS = 100
STREAM_EXPORT_SHARDS = 2
STREAM_EXPORT_MAX_RECORDS_PER_FILE = 1000


def stream_export_shards(spark: SparkSession, src_dir: str, out_path: str,
                         checkpoint: str) -> None:
    """Streaming curation backfill: a file-source stream over the
    ``documents`` fixture, a scan-side quality gate (``n_chars >=
    STREAM_EXPORT_MIN_CHARS``), and a ``foreachBatch`` shard export
    under ``Trigger.AvailableNow`` —
    the catch-up-then-stop trigger a scheduled ingestion job uses (all
    available input is processed in rate-limited micro-batches, then
    the query terminates; a later run resumes from the checkpoint and
    exports only NEW files).

    Each micro-batch writes into its own ``epoch=N`` subdirectory with
    mode=overwrite, so a batch retried after a crash REPLACES its own
    partial output instead of appending a duplicate — idempotence by
    epoch id, the same replay-safety contract as the chunked streaming
    sink's per-batch manifests.  The corpus-level manifest is
    ``shard_manifest`` over the whole export tree (shard hashes are
    mergeable sums, so epochs compose)."""
    from ..streaming.events_stream import parquet_stream

    docs = parquet_stream(spark, src_dir, "documents.parquet")
    curated = docs.filter(F.col("n_chars") >= STREAM_EXPORT_MIN_CHARS)

    def write_batch(bdf: DataFrame, epoch_id: int) -> None:
        if bdf.isEmpty():
            return
        write_training_shards(
            bdf,
            os.path.join(out_path, f"epoch={epoch_id}"),
            "doc_id",
            n_shards=STREAM_EXPORT_SHARDS,
            max_records_per_file=STREAM_EXPORT_MAX_RECORDS_PER_FILE,
        )

    q = (
        curated.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

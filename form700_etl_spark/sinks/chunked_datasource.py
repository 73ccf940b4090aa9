"""Chunked sink as a Spark Python DataSource stream WRITER (V2 API).

Complements ``sources/rest_datasource.py`` on the write side of the
continuous ETL:

    spark.dataSource.register(ChunkedDirDataSource)
    (stream_df.writeStream.format("chunked_dir")
       .option("path", "/sink/dir").option("chunk_size", "500")
       .option("checkpointLocation", "/ckpt").start())

The batch load is ``sinks/chunked.py::ChunkedSink``; both write a
task's rows through the same ``write_chunks`` (chunking, per-chunk
retry) into ``LocalDirClient`` files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

from .chunked import ChunkedSinkConfig, LocalDirClient, write_chunks, write_json


@dataclass
class ChunkCommit(WriterCommitMessage):
    files: tuple
    rows: int


class ChunkedDirStreamWriter(DataSourceStreamWriter):
    """The streaming chunked sink: micro-batch exactly-once via
    per-batch manifests.

    The task-side ``write`` cannot know the batch id (the V2 stream
    contract delivers it only to ``commit``), so chunk files get
    collision-free names and the ``_BATCH-{id}`` manifest — published
    by ONE atomic rename on the driver after every task of the batch
    succeeded — is what makes them visible.  The committed state of the
    sink is *the union of manifests*: a replayed micro-batch re-writes
    fresh chunk files and re-publishes the same manifest name, so
    readers that resolve through manifests (``read_committed``) never
    observe duplicates or partial batches.  ``abort`` deletes the
    orphaned chunk files of a failed attempt.  A failed chunk write is
    retried in the task with the batch sink's K5 policy, unthrottled.

    This is the streaming answer to the reference's
    retry-after-partial-success double-count (Form700.py:479-502):
    at-least-once file writes + atomic manifest publish = exactly-once
    observable output, the same recipe as Spark's own file sink log.
    """

    def __init__(self, options):
        self.path = options["path"]
        self.config = ChunkedSinkConfig(
            chunk_size=int(options.get("chunk_size", "1000")), throttle_s=0.0
        )
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator) -> ChunkCommit:
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        attempt = uuid.uuid4().hex[:8]  # unique per task attempt AND batch
        chunk_ids, _, rows = write_chunks(
            LocalDirClient(self.path), f"stream-p{pid:05d}-{attempt}", iterator, self.config
        )
        return ChunkCommit(files=tuple(f"{c}.json" for c in chunk_ids), rows=rows)

    def commit(self, messages, batchId: int) -> None:
        manifest = {
            "batch_id": batchId,
            "files": sorted(f for m in messages if m is not None for f in m.files),
            "rows_inserted": sum(m.rows for m in messages if m is not None),
        }
        write_json(os.path.join(self.path, f"_BATCH-{batchId}"), manifest)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                try:
                    os.unlink(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass


def committed_manifests(path: str) -> list[dict]:
    """The sink's committed state: every published ``_BATCH-*`` manifest,
    in batch order."""
    out = []
    for name in sorted(os.listdir(path)):
        if name.startswith("_BATCH-"):
            with open(os.path.join(path, name)) as fh:
                out.append(json.load(fh))
    return sorted(out, key=lambda m: m["batch_id"])


def read_committed(path: str) -> list[dict]:
    """Resolve rows through the manifests — the exactly-once view.
    Orphan chunk files from failed attempts are invisible here."""
    rows: list[dict] = []
    for m in committed_manifests(path):
        for f in m["files"]:
            with open(os.path.join(path, f)) as fh:
                rows.extend(json.load(fh))
    return rows


class ChunkedDirDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "chunked_dir"

    def streamWriter(self, schema, overwrite: bool) -> ChunkedDirStreamWriter:
        return ChunkedDirStreamWriter(self.options)


def register_chunked_datasource(spark) -> None:
    spark.dataSource.register(ChunkedDirDataSource)

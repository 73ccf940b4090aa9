"""Chunked replace/upsert sink — the reference's load path, re-planned.

Reference behavior (SURVEY §2.7, /root/reference/Form700.py):
- K1 fixed 1000-row chunks (:505-506), K2 row-dict conversion (:473),
- K4 chunk 0 via ``client.replace`` (truncate+insert) then upserts
  (:479-489), K5 ``@retry(tries=10, delay=1, backoff=2)`` + 0.25 s
  throttle per chunk (:491-502),
- A2/A3 audit: accumulated inserted-row counts reconciled against the
  input count (:494, :611-618).

Spark re-plan, designed to be **idempotent under retry** (the
reference can double-count when a retry follows a partial success —
SURVEY §7 "hard parts" says design that out, not port it):

1. the *replace* step is a driver-side truncate issued exactly once,
   BEFORE any executor writes — not "first chunk replaces", which
   races under task retry;
2. executors write via ``foreachPartition``; each chunk is tagged with
   a deterministic ``(partition_id, chunk_index)`` id and delivered
   with ``upsert(chunk_id, rows)`` so a re-executed task overwrites
   rather than duplicates (client contract: upsert by chunk id is
   idempotent);
3. per-chunk retry with exponential backoff + per-chunk throttle;
4. audit (A2/A3) from per-partition count records returned by the write
   pass itself — one scan, and exact under task retry because Spark
   only surfaces results from each task's final successful attempt
   (the commit-message pattern; the streaming writer in
   ``sinks/chunked_datasource.py`` commits per micro-batch the same way
   and writes through the same ``write_chunks`` and ``write_json``).

The client is an injectable protocol; ``LocalDirClient`` (one JSON
file per chunk id — naturally idempotent) serves tests and local runs.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterable
from dataclasses import dataclass
from functools import partial
from itertools import islice
from typing import Protocol

from pyspark.sql import DataFrame, Row

from ..io import retry


class SinkClient(Protocol):
    def truncate(self) -> None: ...

    def upsert(self, chunk_id: str, rows: list[dict]) -> int:
        """Idempotently write one chunk; returns rows written."""
        ...

    def create(
        self,
        name: str,
        columns: list[dict],
        description: str = "",
        category: str = "",
        tags: list[str] | None = None,
    ) -> str:
        """K3 DDL (Form700.py:439-454): create the sink dataset with
        column + descriptive metadata; returns its dataset id.  MUST be
        idempotent — creating an existing dataset returns its id."""
        ...


class LocalDirClient:
    """Filesystem-backed client: chunk id -> one JSON file (atomic
    rename), so task retries overwrite instead of duplicating."""

    def __init__(self, path: str, fail_times: int = 0):
        self.path = path
        self.fail_times = fail_times  # test hook: fail the first N calls
        os.makedirs(path, exist_ok=True)

    def truncate(self) -> None:
        # data chunks only — the _dataset.json DDL metadata survives a
        # replace, like a Socrata truncate keeps the dataset definition
        for f in os.listdir(self.path):
            if f.endswith(".json") and not f.startswith("_"):
                os.unlink(os.path.join(self.path, f))

    def create(
        self,
        name: str,
        columns: list[dict],
        description: str = "",
        category: str = "",
        tags: list[str] | None = None,
    ) -> str:
        """Create-if-absent with a deterministic FourByFour-shaped id
        (sha256 of the dataset name) recorded in ``_dataset.json`` —
        repeat calls return the recorded id without rewriting."""
        import hashlib

        meta_path = os.path.join(self.path, "_dataset.json")
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                return json.load(fh)["id"]
        h = hashlib.sha256(name.encode()).hexdigest()[:8]
        dataset_id = f"{h[:4]}-{h[4:]}"
        write_json(
            meta_path,
            {
                "id": dataset_id,
                "name": name,
                "columns": columns,
                "description": description,
                "category": category,
                "tags": tags or [],
            },
        )
        return dataset_id

    def upsert(self, chunk_id: str, rows: list[dict]) -> int:
        marker = os.path.join(self.path, "_failures_remaining")
        if self.fail_times:
            # simulate a flaky endpoint across processes via a marker file
            try:
                with open(marker, "x") as fh:
                    fh.write(str(self.fail_times - 1))
                raise IOError("injected transient failure")
            except FileExistsError:
                with open(marker) as fh:
                    remaining = int(fh.read() or 0)
                if remaining > 0:
                    with open(marker, "w") as fh:
                        fh.write(str(remaining - 1))
                    raise IOError("injected transient failure")
        write_json(os.path.join(self.path, f"{chunk_id}.json"), rows)
        return len(rows)


def write_json(path: str, obj) -> None:
    """``json.dumps(obj, default=str)`` at ``path``, published from a
    dot-prefixed temp file by one atomic ``os.replace``: no reader ever
    sees a partial file."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(json.dumps(obj, default=str))
    os.replace(tmp, path)


@dataclass(frozen=True)
class ChunkedSinkConfig:
    chunk_size: int = 1000  # reference chunkSize, Form700.py:397
    tries: int = 10  # reference retry policy, Form700.py:491
    delay_s: float = 1.0
    backoff: float = 2.0
    throttle_s: float = 0.25  # reference throttle, Form700.py:495


@dataclass
class SinkReport:
    dataset: str
    total_records: int
    rows_inserted: int

    @property
    def success(self) -> bool:  # A3 reconciliation, Form700.py:611-618
        return self.total_records == self.rows_inserted


def make_columns(schema) -> list[dict]:
    """K3 column-metadata assembly (``getColumns``, Form700.py:412-423):
    per schema-CSV row, the sink-ready snake_case field name, the human
    display name (C10's titleized form, carried in the CSV's ``name``
    column), and the declared type."""
    from ..functions.cleaning import snake_case

    return [
        {
            "fieldName": snake_case(f),
            "name": schema.display_names[f],
            "dataTypeName": schema.type_map[f],
        }
        for f in schema.fields
    ]


def create_dataset_if_absent(client: SinkClient, info, schema) -> str:
    """K3 create-if-absent (``createDataSet``, Form700.py:439-454): the
    registry's FourByFour gates creation — ``0`` means not yet created,
    so issue the DDL with full column + descriptive metadata and return
    the new id; otherwise the recorded id is authoritative and no DDL
    runs.  ``info`` is a ``schema_registry.TableInfo`` row, ``schema``
    the matching ``DatasetSchema``."""
    if info.four_by_four and info.four_by_four != "0":
        return info.four_by_four
    return client.create(
        name=info.dataset_name,
        columns=make_columns(schema),
        description=info.description,
        category=info.category,
        tags=list(info.tags),
    )


def job_status_rows(reports: list[SinkReport]) -> tuple[str, list[dict]]:
    """K10 status assembly (Form700.py:611-618, 628-655): one row per
    dataset with the A3 count reconciliation verdict, plus the overall
    job verdict (FAILURE if any dataset failed)."""
    rows = [
        {
            "dataset": r.dataset,
            "totalRecords": r.total_records,
            "rowsInserted": r.rows_inserted,
            "status": "SUCCESS" if r.success else "FAILURE",
        }
        for r in reports
    ]
    overall = "SUCCESS" if all(r.success for r in reports) else "FAILURE"
    return overall, rows


def write_job_report(reports: list[SinkReport], path: str, job_name: str = "form700") -> str:
    """K8 job-log CSV (``csv.DictWriter`` of per-dataset status rows,
    Form700.py:620-626) + K10 message assembly (:628-655).  Returns the
    status message; the CSV lands at ``path``.  Driver-side by design —
    the report is O(datasets), not O(rows)."""
    import csv as _csv

    overall, rows = job_status_rows(reports)
    with open(path, "w", newline="") as fh:
        writer = _csv.DictWriter(
            fh, fieldnames=["dataset", "totalRecords", "rowsInserted", "status"]
        )
        writer.writeheader()
        writer.writerows(rows)
    lines = [f"{job_name}: {overall}"]
    lines += [
        f"  {r['dataset']}: {r['status']} "
        f"({r['rowsInserted']}/{r['totalRecords']} rows)"
        for r in rows
    ]
    return "\n".join(lines)


def write_chunks(
    client: SinkClient, prefix: str, rows: Iterable[Row], config: ChunkedSinkConfig
) -> tuple[list[str], int, int]:
    """The one per-task chunk loop (K1/K2/K5): ``rows`` cut into
    successive lists of at most ``config.chunk_size`` row dicts
    (``asDict(recursive=True)``, nested rows included), each upserted
    as chunk ``f"{prefix}-c{idx:05d}"`` through ``io.retry`` with the
    config's policy, then throttled.  Returns the chunk ids, the rows
    read and the rows the client acknowledged."""
    chunk_ids: list[str] = []
    rows_read = rows_acked = 0
    it = iter(rows)
    while chunk := [row.asDict(recursive=True) for row in islice(it, config.chunk_size)]:
        chunk_id = f"{prefix}-c{len(chunk_ids):05d}"
        upsert = partial(client.upsert, chunk_id, chunk)
        rows_acked += retry(upsert, config.tries, config.delay_s, config.backoff)
        chunk_ids.append(chunk_id)
        rows_read += len(chunk)
        if config.throttle_s:
            time.sleep(config.throttle_s)
    return chunk_ids, rows_read, rows_acked


class ChunkedSink:
    def __init__(self, client: SinkClient, config: ChunkedSinkConfig = ChunkedSinkConfig()):
        self.client = client
        self.config = config

    def write(self, df: DataFrame, dataset: str = "dataset") -> SinkReport:
        """ONE data pass: each partition writes its chunks and returns a
        tiny ``(rows_read, rows_client_reported)`` record, collected on
        the driver — the same retry-safe commit-message idea as the
        streaming writer (sinks/chunked_datasource.py).  ``collect`` only
        returns results from the final *successful* attempt of each
        task, so a retried task never double-counts — the exactness an
        accumulator cannot give (accumulators re-add on re-execution)
        and the reason this is not ``df.count()`` + ``foreachPartition``
        (which would scan the input twice).

        The A3 reconciliation stays meaningful because the two counts
        have independent sources: ``rows_read`` is what the task pulled
        from the iterator, ``rows_client_reported`` is what the
        endpoint's ``upsert`` acknowledged."""
        config, client = self.config, self.client

        client.truncate()  # the replace: once, on the driver, before any writes

        def write_partition(rows_iter):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            _, rows_read, rows_reported = write_chunks(
                client, f"{dataset}-p{pid:05d}", rows_iter, config
            )
            yield (rows_read, rows_reported)

        counts = df.rdd.mapPartitions(write_partition).collect()
        total = sum(c[0] for c in counts)
        inserted = sum(c[1] for c in counts)
        return SinkReport(dataset=dataset, total_records=total, rows_inserted=inserted)

"""Paginated REST scan as a Spark Python DataSource (V2 API).

The one REST scan of the engine, for batch and stream alike:

    df = read_rest(spark, RestSourceConfig(url=...), schema_ddl,
                   key_to_pluck="filings", transport=fake_fetch_page)

or, through the normal reader surface (options travel as strings — the
V2 contract — so the transport is named as ``module:function`` and
imported inside the executor)::

    spark.dataSource.register(PaginatedRestDataSource)
    df = (spark.read.format("paginated_rest")
          .schema(schema_ddl)
          .option("transport", "form700_etl_spark.sources.fake:fake_fetch_page")
          .option("url", "fake://filings")
          .option("key_to_pluck", "filings")
          .load())

Planning mirrors the reference's dynamic page-count discovery
(/root/reference/Form700.py:129-144): ``partitions()`` probes page 1
on the driver, then packs the pages into at most ``max_parallel_pages``
InputPartitions of contiguous pages (the cap keeps the engine polite to
the upstream API), so Spark schedules page fetches exactly like file
splits — parallel and locality-free.  Every fetch, driver probe
included, goes through the config's per-page retry policy.  Records
are yielded in schema order with nesting kept: nested fields arrive as
proper Spark structs/arrays (richer than the reference, which destroys
nesting eagerly with json_normalize), and the engine never infers a
schema from a remote payload.
"""

from __future__ import annotations

import dataclasses
import importlib
import json
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..io import retry
from .rest import FetchPage, RestSourceConfig, requests_fetch_page


def _load_transport(spec: str):
    mod, _, fn = spec.partition(":")
    return getattr(importlib.import_module(mod), fn)


class _PagePartition(InputPartition):
    def __init__(self, pages: tuple[int, ...]):
        self.pages = pages


def _config_to_options(config: RestSourceConfig) -> dict[str, str]:
    """Every set ``RestSourceConfig`` field as a V2 string option."""
    options = {}
    for f in dataclasses.fields(config):
        value = getattr(config, f.name)
        if value is not None:
            options[f.name] = json.dumps(value) if isinstance(value, (bool, dict)) else str(value)
    return options


def _options_to_config(options) -> RestSourceConfig:
    """Inverse of ``_config_to_options``; each field is decoded by the type
    of its default, and absent options keep the defaults."""
    kwargs = {"url": ""}
    for f in dataclasses.fields(RestSourceConfig):
        raw = options.get(f.name)
        if raw is None:
            continue
        default = f.default_factory() if f.default_factory is not dataclasses.MISSING else f.default
        if isinstance(default, bool):
            kwargs[f.name] = raw.lower() == "true"
        elif isinstance(default, dict):
            kwargs[f.name] = json.loads(raw)
        elif isinstance(default, (int, float)):
            kwargs[f.name] = type(default)(raw)
        else:
            kwargs[f.name] = raw
    return RestSourceConfig(**kwargs)


class _PageScan:
    """What the batch and stream readers share: the decoded config, the
    page probe, the page packing and the per-page read."""

    def __init__(self, schema, options):
        self.schema = schema
        self.config = _options_to_config(options)
        self.transport_spec = options["transport"]
        self.key_to_pluck = options.get("key_to_pluck")

    def _fetch(self, page: int) -> dict:
        c, fetch_page = self.config, _load_transport(self.transport_spec)
        return retry(lambda: fetch_page(c, page), c.tries, c.retry_delay_s, c.retry_backoff)

    def _total_pages(self) -> int:
        return int(self._fetch(1).get("totalMatchingPages", 1))

    def _pack(self, first: int, last: int) -> list[_PagePartition]:
        """Pages ``first..last`` as at most ``max_parallel_pages``
        partitions of contiguous pages."""
        n_pages = last - first + 1
        if n_pages <= 0:
            return []
        n = min(n_pages, max(1, self.config.max_parallel_pages))
        cuts = [first + n_pages * i // n for i in range(n + 1)]
        return [_PagePartition(tuple(range(a, b))) for a, b in zip(cuts, cuts[1:])]

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        field_names = [f.name for f in self.schema.fields]
        for page in partition.pages:
            body = self._fetch(page)
            payload = body.get(self.key_to_pluck) if self.key_to_pluck else body.get("items", body)
            if not isinstance(payload, list):
                payload = [payload]
            for rec in payload:
                yield tuple(rec.get(name) for name in field_names)


class PaginatedRestReader(_PageScan, DataSourceReader):
    def partitions(self):
        return self._pack(1, self._total_pages())


class PaginatedRestStreamReader(_PageScan, DataSourceStreamReader):
    """Streaming side of the paginated scan: the page index IS the offset.

    The reference re-extracts every page every run (Form700.py:129-144,
    full replace at :482).  The streaming reader instead treats the feed
    as an append-only page log and makes extraction *incremental*:

    - ``latestOffset`` probes page 1 on the driver for the current
      ``totalMatchingPages`` (the same dynamic-cardinality discovery the
      batch planner does); feed GROWTH is admitted at most
      ``max_pages_per_batch`` pages per micro-batch, while the first
      batch of a run covers the backlog in one go (the Python stream
      API has no admission-control hook that sees the start offset, so
      a run-local throttle below the committed page would rewind);
    - ``partitions(start, end)`` packs the pages in ``(start, end]``
      exactly like the batch reader — page fetches parallelize across
      executors and retry per page;
    - offsets are checkpointed by the engine, so restart resumes after
      the last *committed* page instead of re-extracting the world —
      replace-the-world becomes exactly-once page tailing;
    - ``readBetweenOffsets`` replay comes free: partitions are a pure
      function of the offset pair, so recovery re-plans the same pages.

    Offsets must be monotone: a shrinking feed (pages deleted upstream)
    holds the offset rather than rewinding.
    """

    def __init__(self, schema, options):
        super().__init__(schema, options)
        self.max_pages_per_batch = int(options.get("max_pages_per_batch", "64"))
        self._last = 0

    def initialOffset(self) -> dict:
        return {"page": 0}

    def latestOffset(self) -> dict:
        total = self._total_pages()
        if self._last == 0:
            # first report of this run: the true feed head.  The throttle
            # counter is reader-local, so after a restart reporting
            # anything below the checkpoint's committed page would REWIND
            # the offset and replay pages (the Python API has no
            # admission-control hook that sees the start offset).  The
            # checkpoint bounds the catch-up batch to (committed, head].
            self._last = total
        else:
            # steady state: advance toward the head at most
            # max_pages_per_batch pages per micro-batch.
            self._last = max(
                self._last, min(total, self._last + self.max_pages_per_batch)
            )
        return {"page": self._last}

    def partitions(self, start: dict, end: dict):
        return self._pack(start["page"] + 1, end["page"])

    def commit(self, end: dict) -> None:
        # nothing to release — pages are immutable in the feed; the
        # engine's checkpoint is the durable record.
        pass


class PaginatedRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def schema(self):
        raise NotImplementedError(
            "paginated_rest requires an explicit .schema(...) — the engine "
            "never infers schemas from remote payloads (SURVEY §1.3)."
        )

    def reader(self, schema) -> PaginatedRestReader:
        return PaginatedRestReader(schema, self.options)

    def streamReader(self, schema) -> PaginatedRestStreamReader:
        return PaginatedRestStreamReader(schema, self.options)


def register_rest_datasource(spark) -> None:
    spark.dataSource.register(PaginatedRestDataSource)


def read_rest(
    spark: SparkSession,
    config: RestSourceConfig,
    schema: str,
    key_to_pluck: str | None = None,
    transport: FetchPage = requests_fetch_page,
) -> DataFrame:
    """Batch scan of every page (S2-S5): one row per record of
    ``key_to_pluck`` (or of the page's ``items``), typed by ``schema``.
    ``transport`` must be a module-level function, so executors can
    import it by name."""
    register_rest_datasource(spark)
    reader = spark.read.format(PaginatedRestDataSource.name()).schema(schema)
    options = _config_to_options(config)
    options["transport"] = f"{transport.__module__}:{transport.__name__}"
    if key_to_pluck:
        options["key_to_pluck"] = key_to_pluck
    return reader.options(**options).load()

"""Test-table loaders, the session cache and the one materialization.

The driver fixtures (TESTDATA.md) are one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``.  Loading goes through
``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning and partition-sized splits for free — at 100 TB these would be
directories of many row-grouped files and the same code holds.

Each fixture's schema is inferred once per session and per (mtime,
size) of its path, then bound with ``spark.read.schema(s)``, which runs
no job.  ``session_cached`` is the one memo of such per-session
artifacts; it is dropped whole when a new SparkContext starts.

``materialize`` is the one place a query cuts its plan: an eager local
checkpoint whose jobs carry the description ``materialize: <reason>``.
``local_frame`` hands a driver-held result back to Spark without a
Python worker.  ``map_records`` is the one per-record Python operator
(codec decoders, byte-level hashes, stdlib compressors): every
``mapInPandas`` whose unit is one row goes through it, so the Python
boundary of such a plan is one named place.  ``width`` is the one
reading of how wide work runs.
``conf_scope`` is the one temporary change of session confs, and
``retry`` the one retry loop (sink chunk upserts, REST page fetches).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from typing import Callable, Hashable, Iterable, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession

V = TypeVar("V")

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def ensure_session_confs(spark: SparkSession) -> None:
    """Make the engine's semantics independent of who built the
    SparkSession (a driver may build its own): these are
    runtime-settable SQL confs, applied once per SparkContext (through
    ``session_cached``) by the first table or stream read.

    - nanosAsLong: events.parquet carries TIMESTAMP(NANOS), which the
      parquet reader otherwise rejects outright;
    - UTC session timezone: timestamp rendering must match the
      UTC-naive DuckDB oracle;
    - AQE on: runtime coalesce + skew handling (Spark 4 default, pinned).
    """
    def apply() -> None:
        for key, value in (
            ("spark.sql.legacy.parquet.nanosAsLong", "true"),
            ("spark.sql.session.timeZone", "UTC"),
            ("spark.sql.adaptive.enabled", "true"),
        ):
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)

    session_cached(spark, "session confs", apply)


_SESSION_CACHE: dict = {}
_APP_ID = object()  # the key under which _SESSION_CACHE records its context's id


def session_cached(spark: SparkSession, key: Hashable, build: Callable[[], V]) -> V:
    """``build()``, memoized per ``key`` for the life of ``spark``'s
    SparkContext.  A context with a new application id drops every
    entry: only one SparkContext lives in a process, so older entries
    belong to a stopped context (their cached blocks died with it).
    Checked by that id, not ``id(spark)``, which the allocator can reuse
    for a new session.  A ``build`` that raises caches nothing; two
    threads missing one key may both build it (the later store wins)."""
    app_id = spark.sparkContext.applicationId
    if _SESSION_CACHE.get(_APP_ID) != app_id:
        _SESSION_CACHE.clear()
        _SESSION_CACHE[_APP_ID] = app_id
    if key not in _SESSION_CACHE:
        _SESSION_CACHE[key] = build()
    return _SESSION_CACHE[key]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:  # a remote URI or a missing path: Spark resolves (or reports) it
        schema = spark.read.parquet(path).schema
    else:
        schema = session_cached(
            spark,
            ("schema", path, st.st_mtime_ns, st.st_size),
            lambda: spark.read.parquet(path).schema,
        )
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = df.withColumn("ts", normalize_ts(schema["ts"].dataType))
    return df


def materialize(df: DataFrame, reason: str) -> DataFrame:
    """``df`` computed once and pinned as the leaf of every plan that
    reads the result (``Scan ExistingRDD``).

    Materialize only a frame that two or more jobs or plan branches
    read, that a loop iterates over, or whose nondeterministic values
    must be frozen (a ``spark_partition_id`` both passes must agree on).
    Anything else stays lazy, so Catalyst optimizes it with its
    consumer.

    The checkpoint is local (executor block store) and always eager: the
    materialization is its own job, so the code that follows can rely on
    it.  Every job it launches carries the description
    ``materialize: <reason>``; the caller's description comes back
    afterwards, and its job group is never touched, so a profiler that
    attributes jobs by group still sees them as the caller's."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"materialize: {reason}")
    try:
        return df.localCheckpoint()
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def local_frame(spark: SparkSession, schema: str, rows: list[tuple]) -> DataFrame:
    """Rows the driver already holds, as a frame whose plan is a
    ``LocalTableScan``: ``rows`` (tuples in the field order of the DDL
    ``schema``) go to the JVM as one Arrow table.  The same rows through
    ``createDataFrame`` would instead start a Python-worker task per
    partition just to re-pickle them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    columns = [list(c) for c in zip(*rows)] or [[] for _ in struct.fields]
    return spark.createDataFrame(pa.table(columns, schema=to_arrow_schema(struct)), struct)


def map_records(df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str) -> DataFrame:
    """Per-record Python over ``df``: ``fn`` takes one row's values in
    ``df``'s column order and returns that row's output tuples (none,
    one or many) in the field order of the DDL ``schema``.  Values are
    plain Python scalars as pandas holds them: a NULL string or binary
    is ``None``, a NULL in a numeric column is ``NaN``.  One Arrow batch
    in, one frame out; a plan shows it as ``MapInPandas run(...)``.  An
    operator whose unit is the whole batch (a numpy kernel over every
    row at once) calls ``mapInPandas`` itself."""
    from pyspark.sql.types import _parse_datatype_string

    names = [f.name for f in _parse_datatype_string(schema).fields]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = [out for row in pdf.itertuples(index=False, name=None) for out in fn(*row)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema=schema)


def normalize_ts(dtype, col: str = "ts"):
    """Normalize the events ``ts`` column to a session-TZ ``TIMESTAMP``
    regardless of how the fixture parquet encodes it.  The engine pins the
    session timezone to UTC (ensure_session_confs), so every encoding maps
    to the same instants the UTC-naive DuckDB oracle sees:

    - ``TIMESTAMP(NANOS)`` surfaces as int64 nanos under
      legacy.parquet.nanosAsLong → truncate to micros (DuckDB's read
      behavior for nanosecond parquet timestamps);
    - ``timestamp[us]`` with no timezone surfaces as ``TIMESTAMP_NTZ``
      (PySpark 4.x) → cast to TIMESTAMP, which interprets the wall-clock
      value in the UTC session zone, i.e. values are unchanged;
    - already ``TIMESTAMP`` → passthrough.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(dtype, LongType):
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    if isinstance(dtype, TimestampNTZType):
        return F.col(col).cast("timestamp")
    return F.col(col)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register each fixture table as a temp view (the engine's catalog —
    the Spark analog of the reference's dict-of-DataFrames, SURVEY §1.1)."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def width(spark: SparkSession) -> int:
    """How wide work runs: the cluster's core count.  Work is sized from
    this, never from ``spark.sql.shuffle.partitions`` (AQE's start)."""
    return spark.sparkContext.defaultParallelism


def fan_out(df: DataFrame, *keys: Column | str) -> DataFrame:
    """``df`` repartitioned to ``width`` (hashed on ``keys``, round-robin
    without them) when it reads fewer files than the width, else ``df``:
    per-row compute on a frame's own tasks serializes when a small-file
    scan yields one split.  ``inputFiles()`` runs no job, where a
    partition probe would run the AQE stages below an exchange or
    broadcast twice.  A materialized or driver-held leaf reads 0 files."""
    n = width(df.sparkSession)
    if len(df.inputFiles()) >= n:
        return df
    return df.repartition(n, *keys)


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]):
    """Run the enclosed block with ``confs`` set on the session, then
    restore each key's previous value (unsetting those that were unset),
    on failure too."""
    old = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def retry(call: Callable[[], V], tries: int, delay_s: float, backoff: float) -> V:
    """``call()``, re-attempted after each failure up to ``tries``
    attempts in all, sleeping ``delay_s``, ``delay_s * backoff``, ...
    between them; the last attempt's error propagates (the reference's
    ``@retry(tries, delay, backoff)``, Form700.py:491)."""
    for _ in range(tries - 1):
        try:
            return call()
        except Exception:
            time.sleep(delay_s)
            delay_s *= backoff
    return call()

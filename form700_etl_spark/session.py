"""SparkSession factory.

Local-mode settings mirror what we would set fleet-wide on a real
cluster: AQE on (runtime coalesce, skew-join handling), AQE's
starting shuffle count sized to the core count instead of the 200
default, UTC session timezone (so timestamp semantics match the
UTC-naive DuckDB oracle), and Arrow enabled for every pandas-UDF
exchange.  On a 1000-executor cluster the only knobs that change are
master/memory/shuffle-partitions; the engine sizes work by the core
count (``io.width``), and nothing in it assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def _default_driver_mem() -> str:
    """Default driver heap: 32g on the 128 GiB target hosts, but capped
    at ~half of detected physical RAM elsewhere — an uncapped 32g heap
    on a smaller host turns would-be spills into OOM kills (ADVICE r10).
    SPARK_GRAFT_DRIVER_MEM always wins."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        page = os.sysconf("SC_PAGE_SIZE")
        phys = os.sysconf("SC_PHYS_PAGES")
        total_gib = page * phys / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "32g"
    return f"{max(2, min(32, int(total_gib / 2)))}g"


def get_spark(app_name: str = "form700_etl_spark") -> SparkSession:
    cpus = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # events.parquet carries TIMESTAMP(NANOS) which the Spark parquet
        # reader rejects; read the raw int64 nanos instead (io.table
        # converts to a microsecond timestamp, matching DuckDB truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # static conf: managed/bucketed tables (saveAsTable) land here
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        # In local mode the driver heap IS the executor heap: 32 task
        # threads sharing 8g forced the heavy collect_list aggregations
        # (filing synthesis) to spill unpredictably depending on page-cache
        # state — the round-7..9 bench volatility.  The target hosts carry
        # 128 GiB; 32g keeps the hot aggregations in memory while leaving
        # ample page cache.  On a real cluster this maps to ordinary
        # executor sizing (4 GiB/core), not a driver-side requirement.
        # (capped at half of physical RAM on smaller hosts, see
        # _default_driver_mem)
        .config("spark.driver.memory", _default_driver_mem())
        # The JVM default 240 MB code cache fills during a multi-query
        # session of wide whole-stage-codegen plans (the filing-synthesis
        # plan alone generates 39-field struct builders); once full, the
        # JIT stops compiling and plans silently run interpreted — the
        # "single-JVM suite pressure" round 5 measured (in-suite r4 ~1.2x
        # fresh-JVM) and the residual scheduleA2 wall-clock volatility.
        # 1 GiB keeps every plan's generated code compiled for the whole
        # session; same flag applies per-executor on a real cluster.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1024m",
        )
        # The generated-class cache defaults to 100 entries; a
        # multi-query session compiles thousands of codegen classes, so
        # a query's classes are routinely EVICTED between its cold pass
        # and its timed runs — forcing a Janino recompile plus a fresh
        # HotSpot ramp (round 14 measured ref_pipeline_scheduleA2 at
        # 41.9 s for a run whose plan executes in 3.0 s steady, with 23
        # other queries' classes having flushed the cache in between;
        # in isolation the same plan ramps 5.2 -> 1.4 s).  2000 entries
        # keep every plan of a session compiled; the cost is bounded
        # bytecode retention, which the 1 GiB code cache above already
        # budgets for.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Split generated code into smaller methods than the 1024-byte
        # default: small methods tier up through C1/C2 in one execution
        # instead of queueing behind every other plan's giant method
        # (measured on the widest plan: run-1 latency 4.7 s -> 1.26 s,
        # steady state unchanged).  At 100 TB the equivalent win is the
        # first task wave of each stage running compiled, not interpreted.
        .config("spark.sql.codegen.methodSplitThreshold", "256")
        # keep the whole bench run's stages in the status store, so the
        # profile.jobs readout after a timed region still finds them
        .config("spark.ui.retainedStages", "10000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory.

Local-mode settings mirror what we would set fleet-wide on a real
cluster: AQE on (runtime coalesce, skew-join handling), AQE's
starting shuffle count sized to the core count instead of the 200
default, UTC session timezone (so timestamp semantics match the
UTC-naive DuckDB oracle), and Arrow enabled for every pandas-UDF
exchange.  Two more settings remove fixed costs every task paid:
heap-sized Tungsten pages (``page_size_bytes``) and a Python worker
daemon that keeps Spark's bundled archives off the workers' ``sys.path``
(``worker_daemon``).  Two more remove a fixed cost outside any task:
without libhadoop's ``NativeIO`` the local filesystem forks a ``chmod``
for every file and directory it creates and a ``readlink`` for both ends
of every FileContext rename, and the ``file:`` scheme resolved to Hive's
checksum filesystem, which doubles every file with a ``.crc`` sibling.
A warm 3-batch tumbling-window stream drive forked 198 processes (144
``readlink``, 54 ``chmod``); with ``RawLocalFileSystem`` and the
FileSystem-based checkpoint manager it forks 34 ``chmod`` and no
``readlink``.  Those two confs hold for local files only, which is all a
``get_spark`` session (``local[N]``) writes.  On a 1000-executor cluster
the only knobs that change are master/memory/shuffle-partitions and the
checkpoint manager (HDFS and object stores keep their own, see below);
the engine sizes work by the core count (``io.width``), and nothing else
in it assumes local mode.
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


def page_size_bytes(driver_mem: str) -> int:
    """Tungsten page for a heap of ``driver_mem`` ("7g", "2048m"; a bare
    number is MiB, as for ``spark.driver.memory``): the smallest power of
    two with which a task's 8192-entry page table spans the heap, capped
    at 8 MiB.  That is a quarter of JDK 17's G1 region for the heap, so a
    page is never a humongous object."""
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    mem = driver_mem.strip().lower()
    heap = int(mem[:-1]) * units[mem[-1]] if mem[-1] in units else int(mem) << 20
    return min(8 << 20, 1 << (-(-heap // 8192) - 1).bit_length())


def get_spark(app_name: str = "form700_etl_spark") -> SparkSession:
    cpus = cpu_count()
    driver_mem = _default_driver_mem()
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
        .config("spark.driver.memory", driver_mem)
        # Spark's default page is 64 MB - 16 B whatever the input size, and
        # the JDK 17 G1 region of a 7g heap is 4 MB, so every hash, sort and
        # aggregate task allocated and zeroed a humongous 64 MB array: a GC
        # log over 9 warm ETL operations showed 26 humongous-allocation
        # concurrent starts and 67-91 live humongous regions per young GC,
        # about 0.4 CPU-s of G1 and GC threads per pass.  A page of a quarter region
        # (1 MiB at 7g, 4 MiB at 32g) still lets one task's page table
        # address the whole heap; a larger record still gets its own page.
        .config("spark.buffer.pageSize", str(page_size_bytes(driver_mem)))
        # Spark puts pyspark.zip, the py4j zip and the spark-core jar first
        # on every Python worker's sys.path, and each task's
        # importlib.invalidate_caches() re-reads their central directories
        # (about 80 ms CPU per task on a 4-core host).  The daemon drops them
        # when pyspark and py4j are installed outside an archive at the
        # same version.  The daemon starts with `python -m` in the JVM's
        # cwd, so the package root goes on the workers' PYTHONPATH too.
        .config("spark.python.daemon.module", "form700_etl_spark.worker_daemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
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
        # `file:` resolved to Hive's ProxyLocalFileSystem, a checksum
        # filesystem: every local file Hadoop writes (stream offsets,
        # commits, source logs and state deltas, replay_stream's parquet,
        # the parquet sinks, shards and compaction) got a `.crc` sibling,
        # and without NativeIO the file and its sibling each forked a
        # `chmod`, and each of their renames a `readlink` per end.  The raw
        # filesystem writes the file alone; the checksums it drops guarded
        # only Hadoop readers of these files against a bad local disk.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # Spark's default checkpoint manager renames through FileContext,
        # which calls FileUtil.readLink (a `readlink` fork) on source and
        # target: 144 of the 198 forks of a warm 3-batch stream drive.
        # The FileSystem-based manager renames with FileSystem.rename, on
        # the raw filesystem File.renameTo, i.e. POSIX rename(2), which
        # replaces an existing target atomically and forks nothing.  Local
        # only: HDFS's rename does not replace an existing target, so a
        # cluster whose checkpoints live on HDFS or an object store keeps
        # Spark's FileContext default (or the store's own manager).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Structured Streaming variants of the event-table operators.

The reference is pure batch (SURVEY §1.5) — streaming is the
engine-extension surface.  Design rules:

- every streaming query has batch-equivalent semantics on static
  input, so the DuckDB oracle that checks the batch twin also checks
  the streaming run (``F.window`` buckets are epoch-aligned in both
  modes; ``session_window`` merges on gap < gapDuration);
- local tests drive a parquet file source to completion with
  ``processAllAvailable`` + a memory sink — on a real cluster the same
  code points at Kafka + a real sink, with watermarks bounding state.

Every stream goes through three helpers, so no stream re-implements
them:

- ``parquet_stream`` is the one file-source reader.  It applies the
  session confs, probes the schema only when the caller gives none,
  and normalizes a ``ts`` column with the batch reader's
  ``normalize_ts``, so streaming and batch twins read the same values.
- ``replay_stream`` turns a list of batch frames into a stream that
  delivers batch i as micro-batch i.  Each batch is one parquet file
  with a pinned, strictly increasing mtime, and the file source takes
  unprocessed files oldest-first one per trigger, so the mtimes are
  the replay order.
- ``run_to_completion`` is the one memory-sink drive.  It returns the
  sink's rows and the parsed per-batch progress, and leaves no temp
  view behind.  Given ``state_partitions`` it starts the query with
  that many state partitions, reads the count that took effect back
  from the progress, and raises if the two differ.

State-at-scale notes: tumbling/sliding aggs keep one row of state per
open (window, key); the watermark closes windows so state is O(open
windows), not O(stream).  Session windows and dropDuplicates keep
per-key state likewise bounded by the watermark horizon.
"""

from __future__ import annotations

import json
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..io import conf_scope

# Bundled with Spark since 3.2: per-key state in embedded RocksDB
# instead of the JVM heap.  At 100 TB a stateful query's state
# (sessions, dedup horizons, custom GroupState) exceeds executor heap
# long before the input does — RocksDB spills it to local SSD, and
# changelog checkpointing uploads only the per-batch delta instead of
# re-snapshotting the full store.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_state_store(spark: SparkSession):
    """Run the enclosed streaming queries with the RocksDB state store
    and changelog checkpointing (restores the previous settings on
    exit).  Results are identical to the default HDFS-backed provider —
    this trades heap for local disk, it does not change semantics —
    which is exactly what the equivalence test asserts."""
    return conf_scope(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        },
    )


# mtime of replay batch 0, in seconds; batch i gets REPLAY_MTIME0 + i
REPLAY_MTIME0 = 1_000_000_000


def parquet_stream(
    spark: SparkSession,
    path: str,
    glob: str,
    files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """File-source stream over the parquet files in ``path`` that match
    ``glob``, taking ``files_per_trigger`` files per micro-batch (all
    available ones when None).  File sources need an explicit schema;
    without one it is probed from the files (one batch-read job), so
    fixture encoding changes (int64-nanos vs TIMESTAMP_NTZ vs TIMESTAMP)
    surface here and a ``ts`` column is normalized by the same
    ``normalize_ts`` the batch reader uses."""
    from ..io import ensure_session_confs, normalize_ts

    ensure_session_confs(spark)
    if schema is None:
        schema = spark.read.option("pathGlobFilter", glob).parquet(path).schema
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    stream = reader.load(path)
    if "ts" in schema.fieldNames():
        stream = stream.withColumn("ts", normalize_ts(schema["ts"].dataType))
    return stream


@contextmanager
def replay_stream(spark: SparkSession, batches: list[DataFrame]):
    """Yield a stream that delivers ``batches[i]`` as micro-batch i.

    Each batch is written as one parquet file whose mtime is pinned to
    ``REPLAY_MTIME0 + i``: the file source takes unprocessed files
    oldest-first, one per trigger here, so the mtimes fix the order
    (write order alone can tie at the filesystem's mtime granularity).
    A batch that is the same frame as an earlier one is copied from
    that batch's file, not written again.  The stream's schema is
    ``batches[0].schema``, so no probe job runs.  The replay directory
    is removed on exit."""
    import os
    import shutil
    import tempfile

    src = tempfile.mkdtemp(prefix="replay_stream_")
    try:
        files: list[tuple[DataFrame, str]] = []
        for i, df in enumerate(batches):
            dst = os.path.join(src, f"batch{i:05d}.parquet")
            prior = next((f for d, f in files if d is df), None)
            if prior is None:
                stage = os.path.join(src, "_stage")
                df.coalesce(1).write.parquet(stage)
                part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
                os.rename(os.path.join(stage, part), dst)
                shutil.rmtree(stage)
                files.append((df, dst))
            else:
                shutil.copyfile(prior, dst)
            os.utime(dst, (REPLAY_MTIME0 + i, REPLAY_MTIME0 + i))
        yield parquet_stream(
            spark, src, "*.parquet", files_per_trigger=1, schema=batches[0].schema
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (one micro-batch)."""
    return parquet_stream(spark, sf_dir, "events.parquet")


def run_to_completion(
    agg: DataFrame, mode: str, state_partitions: int | None = None
) -> tuple[DataFrame, list[dict]]:
    """Drive a streaming frame through a memory sink until all available
    input is processed; return the sink's rows as a batch frame and the
    per-trigger progress as dicts.

    A stateful operator's partition count is pinned from
    ``spark.sql.shuffle.partitions`` at query start, so with
    ``state_partitions`` set that conf holds the given count for
    ``start()`` only and the session value is restored right after.
    That relies on the query cloning the session conf inside
    ``start()``, so the count that actually applied is read back from
    the progress and a mismatch raises.

    The result frame resolves the sink's temp view when it is created,
    so the view is dropped before returning (on failure too) and
    repeated drives leave the session catalog as they found it."""
    spark = agg.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    writer = agg.writeStream.outputMode(mode).format("memory").queryName(name)
    if state_partitions is None:
        q = writer.start()
    else:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": str(state_partitions)}):
            q = writer.start()
    try:
        q.processAllAvailable()
        progress = [
            p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress
        ]
        result = spark.table(name)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
    if state_partitions is not None:
        applied = {
            op["numShufflePartitions"]
            for p in progress
            for op in p.get("stateOperators") or []
        }
        if applied != {state_partitions}:
            raise RuntimeError(
                f"stream state partitions: asked {state_partitions}, "
                f"applied {sorted(applied)}"
            )
    return result, progress


STATE_TARGET_ROWS = 25_000


def derive_stream_state_partitions(rows_per_batch: int, width: int) -> int:
    """State-store partition count for a stateful streaming query, derived
    from per-batch input volume instead of the blanket batch
    ``spark.sql.shuffle.partitions`` (VERDICT r15 task 5).

    Every state partition pays a fixed per-micro-batch term — state store
    load/commit + task scheduling, O(5-15 ms) each — REGARDLESS of how many
    rows it processes, so when ``rows_per_batch / partitions`` is small the
    query spends its trigger budget on commits, not compute: the r15 driver
    measured 180k ev/s at 8 cores (8 partitions) vs 106k at 32 cores (32
    partitions) on the same fixture — anti-scaling from pure partition
    overhead.  Sizing rule: enough rows per partition that compute dominates
    the fixed term (``STATE_TARGET_ROWS`` ~25k at ~1 µs/row ≈ 25 ms >> commit),
    capped at ``width`` (``io.width``) so a genuinely large stream still
    fans out to the full cluster: at 100 TB/day the derivation yields
    the cap, locally it yields a handful.  The count only changes HOW the
    state is sharded, never the aggregation result (asserted by the
    streaming equivalence tests).
    """
    if rows_per_batch <= 0:
        return max(1, width)
    want = (rows_per_batch + STATE_TARGET_ROWS - 1) // STATE_TARGET_ROWS
    return max(1, min(int(width), int(want)))


def _tumbling_hourly_agg(events: DataFrame) -> DataFrame:
    """The tumbling-hourly aggregation shared by the oracle-checked
    query and the bench throughput drive."""
    from ..functions.money import cents

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")) / F.lit(100.0)).alias("total_value"),
        )
    )


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of queries.events.events_tumbling_hourly (same oracle)."""
    events = read_events_stream(spark, sf_dir)
    out, _ = run_to_completion(_tumbling_hourly_agg(events), "complete")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


def bench_tumbling_throughput(
    spark: SparkSession, sf_dir: str, n_batches: int = 8
) -> dict:
    """Steady-state throughput drive for bench.py (not a registry query).

    The single-file fixture replays as ONE micro-batch, so a wall-clock
    over it measures JVM/state initialization, not throughput (the
    committed r10 number: 38.8k ev/s where 2.1 s of the 2.6 s total was
    the lone batch's trigger).  This drive replays the FULL events
    table once per micro-batch (``n_batches`` file copies,
    maxFilesPerTrigger=1) and reports events/second over the
    post-first-batch window: batch 0 pays source listing + state-store
    setup; batches 1.. are the steady state a long-running deployment
    lives in.  Full-table batches, not an n-way split — a 1/n slice of
    the fixture is small enough that per-micro-batch machinery (offset
    log, state commit, planning) dominates and the number measures
    overhead, not processing (first r11 cut: 12.5k-row batches ->
    12.3k ev/s of pure batch overhead).  Complete-mode aggregation
    ignores the watermark's late filter, so every replayed batch is
    fully aggregated (asserted in tests).  Returns the per-batch
    progress breakdown so the number stays self-adjudicating round
    over round, and the state-partition count the stateful operator
    reported — ``run_to_completion`` raises if it is not the derived
    count.  ``sec`` is the wall time of that drive, query stop included.
    """
    import time

    from ..io import table, width

    events = table(spark, sf_dir, "events")
    n_events = events.count()
    # the stateful operator's partition count is derived from the
    # per-batch volume (one full-table replay per micro-batch)
    state_parts = derive_stream_state_partitions(n_events, width(spark))
    with replay_stream(spark, [events] * n_batches) as stream:
        start = time.perf_counter()
        result, progress = run_to_completion(
            _tumbling_hourly_agg(stream), "complete", state_parts
        )
        total_sec = time.perf_counter() - start
    n_rows = result.count()
    batches = [
        {
            "batch_id": d.get("batchId"),
            "num_input_rows": d.get("numInputRows"),
            "trigger_ms": (d.get("durationMs") or {}).get("triggerExecution"),
            "add_batch_ms": (d.get("durationMs") or {}).get("addBatch"),
        }
        for d in progress
        if d.get("numInputRows")
    ]
    steady = [b for b in batches if b["batch_id"] and b["trigger_ms"]]
    steady_rows = sum(b["num_input_rows"] for b in steady)
    steady_ms = sum(b["trigger_ms"] for b in steady)
    total_rows = sum(b["num_input_rows"] for b in batches)
    return {
        "query": "stream_tumbling_hourly",
        "sec": round(total_sec, 3),
        "state_partitions": state_parts,  # checked against the progress
        "events": n_events,
        "events_processed": total_rows,  # n_batches full-table replays
        "result_rows": n_rows,
        "n_batches": len(batches),
        # steady-state: batches AFTER batch 0, rows / trigger wall
        "events_per_s": round(steady_rows / (steady_ms / 1000.0))
        if steady_ms
        else 0,
        "events_per_s_overall": round(total_rows / total_sec),
        "batches": batches,
    }


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap.

    ``session_window`` merges events whose gap is < 30 min, i.e. a new
    session starts at gap >= 30 min — the batch-SQL equivalent is the
    lag/cumsum sessionization with ``>=`` gap semantics.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out, _ = run_to_completion(agg, "complete")
    return out.select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + max value, carried in explicit GroupState
    across micro-batches.  On the static fixture the final state equals
    the batch aggregate, so this is DuckDB-oracle-checkable.

    At scale: state is per-key and lives in the state store (RocksDB on
    a real cluster); the watermark/timeout policy bounds it — the
    pattern for sessionizers, counters and anomaly detectors that
    built-in windows can't express."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n, vmax = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, vmax))
        # emit the raw max; display rounding happens Spark-side below —
        # Python round() is half-even while Spark/DuckDB round
        # half-up, so rounding HERE would diverge from the oracle on
        # exact .xx5 ties
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [vmax]}
        )

    out = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, max_value double",
            stateStructType="n long, vmax double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = out.withColumn("max_value", F.round("max_value", 2))
    latest, _ = run_to_completion(out, "update")
    # keep the last emitted state per user (single batch here, but the
    # dedup makes the result well-defined under any batching)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        latest.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: a doubled stream (self-union) collapses
    back to one row per event_id via dropDuplicates within the
    watermark horizon; returns per-type counts for audit."""
    events = read_events_stream(spark, sf_dir)
    doubled = events.unionByName(events)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    out, _ = run_to_completion(deduped, "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def _click_purchase_pairs(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The event stream's clicks ``how``-joined to the same user's
    purchases within 1 hour after each click, run to completion
    (append mode): (c_user, click_ts, click_id, p_user, purchase_ts,
    purchase_id).  Both sides carry a 2 hour watermark."""
    events = read_events_stream(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + interval 1 hour"
        ),
        how,
    )
    pairs, _ = run_to_completion(joined, "append")
    return pairs


def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: every (click, purchase) pair of the
    same user where the purchase lands within 1 hour after the click —
    the conversion-attribution shape.

    Both sides carry watermarks and the join condition carries a time
    RANGE, so the state store can evict: a click older than the
    watermark minus the join window can never match a future purchase
    and is dropped.  Without both bounds a stream-stream join's state
    grows forever — this is the canonical bounded-state formulation
    (Structured Streaming stream-stream join semantics).

    On the static fixture the result equals the batch self-join, so
    the DuckDB oracle checks it exactly."""
    pairs = _click_purchase_pairs(spark, sf_dir, "inner")
    # batch-side audit: conversions per user (the pair list itself is
    # the operator output; the aggregate keeps the oracle result small)
    return pairs.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("click_id").alias("n_clicks_converted"),
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream probes the static customer dimension (no hint: Catalyst's
    auto-broadcast threshold and AQE pick the join — the static
    side is re-planned per batch, never stateful) and the enriched
    stream aggregates per market segment.  The canonical "enrich a
    stream against a slowly-changing dim table" shape; unmatched users
    keep their rows via the left join (streaming outer joins against
    static sides need no watermark)."""
    from ..functions.money import cents
    from ..io import table

    events = read_events_stream(spark, sf_dir)
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = events.join(cust, "user_id", "left")
    agg = joined.groupBy(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents("value")) / F.lit(100.0)).alias("total_value"),
    )
    return run_to_completion(agg, "complete")[0]


# the change feed's row key: the snapshot keeps its newest row per key
CDC_KEY = "user_id"


def stream_cdc_merge_apply(
    spark: SparkSession,
    feed_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming CDC apply: treat the incoming event stream as a change
    feed and maintain a latest-row-per-key parquet snapshot via a
    foreachBatch MERGE (operators/merge.py::merge_upsert) — the
    lakehouse "streaming upsert" pattern (Delta/Iceberg MERGE INTO from
    a stream), composed from the same batch merge operator so batch and
    streaming apply logic cannot drift.

    One feed file per micro-batch: reduce the batch to its newest row
    per key (max ts, event_id tiebreak), merge into the current snapshot with
    last-writer-wins ON ts (a late-arriving batch cannot regress a
    key), then publish by write-to-temp + atomic-rename — a crash
    before the rename leaves the old snapshot intact, and the stream's
    checkpoint replays the batch (the merge is idempotent, so replay
    converges).  At scale the snapshot would be bucketed by the key so
    the merge join is exchange-free.  Keyed by ``CDC_KEY``."""
    import os
    import shutil

    from pyspark.sql import Window

    stream = parquet_stream(spark, feed_dir, "*.parquet", files_per_trigger=1)

    def apply_batch(batch_df, batch_id: int) -> None:
        w = Window.partitionBy(CDC_KEY).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        bspark = batch_df.sparkSession
        if os.path.exists(snapshot_dir):
            from ..operators.merge import merge_upsert

            current = bspark.read.parquet(snapshot_dir)
            # last-writer-wins on ts: keep whichever side is newer
            newer_src = latest.alias("s").join(
                current.select(
                    CDC_KEY,
                    F.col("ts").alias("__cur_ts"),
                    F.col("event_id").alias("__cur_eid"),
                ),
                CDC_KEY,
                "left",
            )
            winning = newer_src.filter(
                F.col("__cur_ts").isNull()
                | (F.col("ts") > F.col("__cur_ts"))
                | (
                    (F.col("ts") == F.col("__cur_ts"))
                    & (F.col("event_id") > F.col("__cur_eid"))
                )
            ).drop("__cur_ts", "__cur_eid")
            merged = merge_upsert(current, winning, CDC_KEY)
        else:
            merged = latest
        tmp = snapshot_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        old = snapshot_dir + ".old"
        if os.path.exists(snapshot_dir):
            os.rename(snapshot_dir, old)
        os.rename(tmp, snapshot_dir)
        shutil.rmtree(old, ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# reference window of the drift monitor: feed rows before this day
DRIFT_CUT = "2024-01-16"


def stream_drift_monitor(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming data-quality gate: score every incoming micro-batch's
    value distribution against a broadcast REFERENCE histogram (built
    once, batch-side, from the pre-``DRIFT_CUT`` window) and write one PSI
    report row per batch to ``out_dir`` — the shape of a per-shard
    drift gate in a training-ingest pipeline: reference stats are tiny
    and broadcast; each batch costs one scan + a 10-bin agg; the
    decision record is durable and joinable against the shard manifest.

    Bins and PSI arithmetic are shared with the batch twin
    (``drift_psi_event_values``): fixed-width bins, per-bin terms
    (p-q)*ln(p/q) in integer nano-units, summed exactly."""
    from ..io import normalize_ts
    from ..sinks.partitioned import insert_overwrite_partitions

    feed = spark.read.parquet(feed_dir)
    bin_col = F.least(F.floor(F.col("value") / 50.0).cast("int"), F.lit(9)).alias("bin")
    ref = (
        feed.withColumn("ts", normalize_ts(feed.schema["ts"].dataType))
        .filter(F.col("ts") < F.lit(DRIFT_CUT).cast("timestamp"))
        .select(bin_col)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("p_cnt"))
    )
    ref = ref.crossJoin(ref.agg(F.sum("p_cnt").cast("bigint").alias("p_tot")))

    def score_batch(batch_df, batch_id: int) -> None:
        bspark = batch_df.sparkSession
        q = (
            batch_df.select(bin_col)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("q_cnt"))
        )
        q = q.crossJoin(q.agg(F.sum("q_cnt").cast("bigint").alias("q_tot")))
        term = (
            "CAST(round(((CAST(p_cnt AS DOUBLE) / p_tot) - (CAST(q_cnt AS DOUBLE) / q_tot))"
            " * ln((CAST(p_cnt AS DOUBLE) / p_tot) / (CAST(q_cnt AS DOUBLE) / q_tot))"
            " * 1000000000) AS BIGINT)"
        )
        report = (
            q.join(F.broadcast(ref), "bin", "inner")
            .select(
                F.lit(batch_id).alias("batch_id"),
                "q_tot",
                F.when((F.col("p_cnt") > 0) & (F.col("q_cnt") > 0), F.expr(term))
                .otherwise(F.lit(0))
                .alias("psi_term_nano"),
            )
            .groupBy("batch_id")
            .agg(
                F.first("q_tot").alias("n_rows"),
                F.sum("psi_term_nano").cast("bigint").alias("psi_nano"),
            )
        )
        # foreachBatch is at-least-once: a replay replaces its own row
        insert_overwrite_partitions(report, out_dir, ["batch_id"])

    raw = parquet_stream(
        spark, feed_dir, "*.parquet", max_files_per_trigger, schema=feed.schema
    )
    q_stream = (
        raw.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q_stream.awaitTermination()


def stream_stream_left_outer_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click pairs with same-user
    purchases within 1 hour, and clicks that never convert are EMITTED
    WITH NULLS once the watermark proves no future purchase can match —
    the attribution shape that also reports the negatives.

    Outer-join emission is watermark-gated: an unconverted click only
    leaves the state store when the GLOBAL watermark (min over both
    inputs of max-event-time minus the 2 h delay) passes click_ts + the
    1 h join window.  Clicks younger than that horizon are still
    in-flight when a finite run terminates — they are pending, not
    wrong.  So the OPERATOR's contract is horizon-bounded: it reports
    attribution for clicks at least 4 h older than
    least(max click_ts, max purchase_ts) — 1 h join window + 2 h delay
    + 1 h slack — which is deterministic on a replayed fixture and is
    exactly what a production consumer of an outer-join stream must do
    anyway (downstream of ANY outer join, rows near the watermark are
    by definition provisional).  The DuckDB oracle applies the same
    horizon to the exact batch left join."""
    from ..io import table

    pairs = _click_purchase_pairs(spark, sf_dir, "leftOuter")
    # deterministic emission horizon from the static fixture (one
    # bounded scalar agg, broadcast as a one-row frame, not collected
    # to the driver; in production this is the live watermark)
    horizon = table(spark, sf_dir, "events").agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("horizon")
    )
    settled = pairs.crossJoin(F.broadcast(horizon)).filter(
        F.col("click_ts") <= F.col("horizon") - F.expr("interval 4 hours")
    )
    return settled.groupBy(F.col("c_user").alias("user_id")).agg(
        F.countDistinct("click_id").alias("n_clicks"),
        F.countDistinct(
            F.when(F.col("purchase_id").isNotNull(), F.col("click_id"))
        ).alias("n_converted"),
        F.countDistinct(
            F.when(F.col("purchase_id").isNull(), F.col("click_id"))
        ).alias("n_unconverted"),
    )


def stream_kmv_distinct(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """Streaming KMV distinct sketch via ``applyInPandasWithState``:
    per event type, the k=64 smallest md5-derived 48-bit user hashes
    live in GroupState and merge monotonically across micro-batches —
    the streaming twin of sketch_kmv_distinct's batch sketch.

    Because the KMV merge is deterministic and order-insensitive
    (union, distinct, keep k smallest), the FINAL streaming state is
    bit-identical to the batch sketch no matter how the stream is
    micro-batched — so the estimate itself is DuckDB-oracle-checkable,
    which HLL-style sketches can never offer.  At scale: state is k
    longs per key in the state store; arrivals only ever shrink-or-keep
    the k-min set."""
    import hashlib
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    K = 64
    if events is None:
        events = read_events_stream(spark, sf_dir)

    def kmv48(val: str) -> int:
        # EXACT twin of operators.sketches.kmv_hash (md5 hex prefix)
        return int(hashlib.md5(val.encode()).hexdigest()[:12], 16)

    def update(key, pdfs, state: GroupState):
        hashes, n_seen = (
            (list(state.get[0]), int(state.get[1]))
            if state.exists
            else ([], 0)
        )
        s = set(hashes)
        for pdf in pdfs:
            n_seen += len(pdf)
            for u in pdf["user_id"]:
                s.add(kmv48(str(int(u))))
        hashes = sorted(s)[:K]
        state.update((hashes, n_seen))
        if len(hashes) < K:
            est = len(hashes)
        else:
            # SQL-round (half away from zero), not Python banker's
            q = (K - 1) / (hashes[-1] / 281474976710656.0)
            est = int(math.floor(q + 0.5))
        # n_seen is the LATEST-ROW marker: sketch_size saturates at k,
        # so only a strictly-increasing rows-processed count makes the
        # final-state pick deterministic under multi-batch delivery
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "sketch_size": [len(hashes)],
                "kmv_estimate": [int(est)],
                "n_seen": [n_seen],
            }
        )

    out = events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, sketch_size int, kmv_estimate bigint,"
            " n_seen long"
        ),
        stateStructType="hashes array<bigint>, n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    latest, _ = run_to_completion(out, "update")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("n_seen").desc())
    return (
        latest.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_type", "sketch_size", "kmv_estimate")
        .orderBy("event_type")
    )


# Event-time splits for the late-data audit.  The events fixture spans
# 2024-01-01..2024-01-30 at every SF; the replay is THREE micro-batches
# in event-time-REVERSED order:
#   batch 0: ts >= SPLIT_RECENT   (on time — sets the watermark)
#   batch 1: SPLIT_OLD <= ts < SPLIT_RECENT   (8-22 days late, ACCEPTED:
#            Spark's late-record filter evaluates against the watermark
#            as of the PREVIOUS batch's start, so the first late batch
#            slips in — measured on pyspark 4.1.2, see the audit test)
#   batch 2: ts < SPLIT_OLD       (late, DROPPED: the filter watermark
#            now stands at max(batch 0) - 1 h, ~15 days ahead)
# Both splits are midnight-aligned so no hour window straddles them and
# a DuckDB CASE on ts reproduces the engine's partition exactly.
LATE_AUDIT_SPLIT_RECENT = "2024-01-16 00:00:00"
LATE_AUDIT_SPLIT_OLD = "2024-01-08 00:00:00"


def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data audit: dropped-vs-accepted accounting.

    Reports one row: total input rows, rows that reached state
    (accepted), and the number of (window, event_type) GROUPS dropped by
    the watermark — ``numRowsDroppedByWatermark`` sits after the
    map-side partial aggregation, so it counts dropped partial groups,
    not raw rows (verified against DuckDB: 215 dropped = exactly the
    distinct (hour, event_type) pairs below the old split at sf0.001).
    This is the observability a 100 TB streaming deployment alarms on:
    silent watermark drops are data loss under green dashboards, and
    the one-batch lag in the late filter (batch 1 accepted!) is exactly
    the kind of engine behavior an audit query must measure rather than
    assume.

    accepted_rows is engine-derived from the update-mode sink (last
    update per group is that group's final count), NOT input - dropped —
    the two are reconciled by the oracle instead.
    """
    from ..io import local_frame, table

    events = table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    recent = F.lit(LATE_AUDIT_SPLIT_RECENT).cast("timestamp")
    old = F.lit(LATE_AUDIT_SPLIT_OLD).cast("timestamp")
    slices = [
        events.where(F.col("ts") >= recent),
        events.where((F.col("ts") >= old) & (F.col("ts") < recent)),
        events.where(F.col("ts") < old),
    ]
    with replay_stream(spark, slices) as stream:
        # numRowsDroppedByWatermark counts POST-PARTIAL-AGG rows entering
        # the state operator, so its value is one-per-group only if each
        # batch's partial aggregation ran on a single input partition.
        # The one-file replay batches guarantee that only while each file
        # fits in one maxSplitBytes split; repartition(1) pins it for any
        # file size, making dropped_groups split-invariant (this is an
        # audit probe over one micro-batch's worth of late data, not a
        # data-plane shuffle — 1 partition is the semantics, not a
        # bottleneck).
        agg = (
            stream.repartition(1)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        result, progress = run_to_completion(agg, "update")
    batches = [d for d in progress if d.get("numInputRows")]
    if len(batches) < 3:
        raise RuntimeError(
            f"late-data audit needs the three-batch replay, got {len(batches)}"
        )
    input_rows = sum(d["numInputRows"] for d in batches)
    dropped_groups = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for d in batches
        for op in d.get("stateOperators") or []
    )
    # update-mode sink: one row per group per updating batch; the last
    # (max) n per group is its final accepted count
    accepted = (
        result.groupBy("w", "event_type")
        .agg(F.max("n").alias("n"))
        .agg(F.sum("n").alias("s"))
        .collect()[0]["s"]
        or 0
    )
    return local_frame(
        spark,
        "input_rows bigint, accepted_rows bigint, dropped_groups bigint",
        [(input_rows, int(accepted), dropped_groups)],
    )

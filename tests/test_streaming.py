"""Structured Streaming semantics tests beyond the oracle-checked
queries: watermark late-data dropping across micro-batches."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F


def test_foreach_batch_exactly_once_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the exactly-once sink pattern — each epoch writes a
    parquet partition keyed by batch id (idempotent re-run target)."""
    from form700_etl_spark.streaming.events_stream import read_events_stream

    out_dir = str(tmp_path / "epochs")

    def write_epoch(df, epoch_id: int):
        df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    events = read_events_stream(spark, sf_dir)
    q = events.writeStream.foreachBatch(write_epoch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(f"{out_dir}/epoch=0")
    from form700_etl_spark.io import table

    assert back.count() == table(spark, sf_dir, "events").count()


def test_watermark_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)

    def write_file(name: str, rows, mtime: float):
        df = spark.createDataFrame(rows, "event_time string, k string").select(
            F.to_timestamp("event_time").alias("event_time"), "k"
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/_tmp_{name}")
        # move the part file in with a controlled name + mtime so the file
        # source processes files in the intended order
        part = next(
            f for f in os.listdir(f"{src}/_tmp_{name}") if f.endswith(".parquet")
        )
        final = f"{src}/{name}.parquet"
        os.rename(f"{src}/_tmp_{name}/{part}", final)
        os.utime(final, (mtime, mtime))
        import shutil

        shutil.rmtree(f"{src}/_tmp_{name}")

    base = time.time() - 1000
    stream = spark.readStream.schema("event_time timestamp, k string").parquet(src)
    agg = (
        stream.withWatermark("event_time", "30 minutes")
        .groupBy(F.window("event_time", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "watermark_test_out"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        # batch 1: on-time events 10:00-10:59 -> watermark advances to 10:29
        write_file(
            "b1",
            [("2024-03-01 10:05:00", "a"), ("2024-03-01 10:40:00", "a"), ("2024-03-01 10:59:00", "b")],
            base,
        )
        q.processAllAvailable()
        # batch 2: one VERY late row (08:10 < watermark 10:29) must be
        # dropped; one in-horizon row (10:50) must be counted
        write_file("b2", [("2024-03-01 08:10:00", "a"), ("2024-03-01 10:50:00", "b")], base + 10)
        q.processAllAvailable()
        # batch 3: flush event far ahead so the 10:00 window finalizes in append mode
        write_file("b3", [("2024-03-01 13:00:00", "z")], base + 20)
        q.processAllAvailable()
    finally:
        q.stop()

    out = {
        (r.w.start.strftime("%H:%M"), r.k): r.n
        for r in spark.table(name).collect()
    }
    # the 10:00-11:00 window finalized: a=2 (10:05, 10:40 — NOT the late 08:10),
    # b=2 (10:59 + the in-horizon 10:50)
    assert out.get(("10:00", "a")) == 2, out
    assert out.get(("10:00", "b")) == 2, out
    # the very-late 08:00 window must NOT appear — the row was dropped
    assert not any(k[0] == "08:00" for k in out), out


def test_rocksdb_state_store_equivalence(spark, sf_dir):
    """The RocksDB provider must produce byte-identical results to the
    default heap-backed provider (it changes WHERE state lives, not
    what it is) — and session/stateful queries must actually run on it."""
    from form700_etl_spark.streaming.events_stream import (
        ROCKSDB_PROVIDER,
        rocksdb_state_store,
        stream_session_windows,
        stream_tumbling_counts,
    )

    default = {
        tuple(r) for r in stream_tumbling_counts(spark, sf_dir).collect()
    }
    with rocksdb_state_store(spark):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        rocks = {
            tuple(r) for r in stream_tumbling_counts(spark, sf_dir).collect()
        }
        sessions = stream_session_windows(spark, sf_dir).count()
    assert rocks == default and len(rocks) > 0
    assert sessions > 0
    # provider restored after the context
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        != ROCKSDB_PROVIDER
    )


def test_stream_cdc_merge_apply_converges_to_batch_latest(spark, sf_dir, tmp_path):
    """4 micro-batches of CDC upserts must leave the snapshot equal to
    the batch latest-row-per-user over the whole feed, and a re-run on
    the same checkpoint must be a no-op (replay-safe)."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.streaming.events_stream import stream_cdc_merge_apply

    feed = str(tmp_path / "feed")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    table(spark, sf_dir, "events").repartition(4).write.parquet(feed)

    stream_cdc_merge_apply(spark, feed, snap, ckpt)

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expected = (
        spark.read.parquet(feed)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    got = spark.read.parquet(snap)
    assert got.count() == expected.count()
    cols = sorted(got.columns)
    assert (
        got.select(*cols).exceptAll(expected.select(*cols)).count() == 0
        and expected.select(*cols).exceptAll(got.select(*cols)).count() == 0
    )

    before = sorted(os.listdir(snap))
    stream_cdc_merge_apply(spark, feed, snap, ckpt)  # replay: no-op
    assert sorted(os.listdir(snap)) == before


def test_stream_drift_monitor_matches_batch_psi(spark, sf_dir, tmp_path):
    """Per-micro-batch PSI reports: one row per batch (a replayed batch
    replaces its own row), batch row counts sum to the feed size, PSI
    terms are finite and non-negative, and a single-batch run over the
    whole feed reproduces the batch twin's summed PSI exactly (shared
    bins + shared nano-unit arithmetic)."""
    from pyspark.sql import functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.registry import all_queries
    from form700_etl_spark.streaming.events_stream import stream_drift_monitor

    feed = str(tmp_path / "feed")
    table(spark, sf_dir, "events").repartition(4).write.parquet(feed)

    out = str(tmp_path / "psi")
    ck1 = tmp_path / "ck1"
    stream_drift_monitor(spark, feed, str(ck1), out)
    assert spark.read.parquet(out).count() == 4
    # foreachBatch is at-least-once: without the last batch's commit the
    # rerun replays that batch, whose report must replace its own row
    last = max(int(f.name) for f in (ck1 / "commits").iterdir() if f.name.isdigit())
    for name in (str(last), f".{last}.crc"):
        (ck1 / "commits" / name).unlink(missing_ok=True)
    stream_drift_monitor(spark, feed, str(ck1), out)
    reports = spark.read.parquet(out).collect()
    assert len(reports) == 4
    assert sum(r.n_rows for r in reports) == spark.read.parquet(feed).count()
    assert all(r.psi_nano >= 0 for r in reports), reports

    # whole-feed single batch == the batch query's summed PSI
    out1 = str(tmp_path / "psi_one")
    stream_drift_monitor(
        spark, feed, str(tmp_path / "ck2"), out1, max_files_per_trigger=4
    )
    one = spark.read.parquet(out1).collect()
    assert len(one) == 1
    batch_terms = all_queries()["drift_psi_event_values"].fn(spark, sf_dir).collect()
    # the batch twin windows ref vs cur INSIDE the feed; the monitor
    # scores cur = whole feed vs ref = pre-cut window, so compare to a
    # direct recompute with the monitor's own definition
    e = spark.read.parquet(feed)
    bin_col = F.least(F.floor(F.col("value") / 50.0).cast("int"), F.lit(9)).alias("bin")
    ref = (
        e.filter(F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        .select(bin_col).groupBy("bin").agg(F.count(F.lit(1)).alias("p_cnt"))
    )
    cur = e.select(bin_col).groupBy("bin").agg(F.count(F.lit(1)).alias("q_cnt"))
    p_tot = ref.agg(F.sum("p_cnt")).first()[0]
    q_tot = cur.agg(F.sum("q_cnt")).first()[0]
    import math

    expected = 0
    rows = {r.bin: r.p_cnt for r in ref.collect()}
    for r in cur.collect():
        p = rows.get(r.bin)
        if p:
            pp, qq = p / p_tot, r.q_cnt / q_tot
            expected += round((pp - qq) * math.log(pp / qq) * 1e9)
    assert one[0].psi_nano == expected, (one[0].psi_nano, expected)
    assert batch_terms  # twin exists and runs


def test_stream_incremental_kmv_sketch_maintenance(spark, sf_dir, tmp_path):
    """Incremental sketch maintenance over a stream: each micro-batch
    contributes a per-type KMV partial; merging the stored partials
    equals the whole-feed sketch exactly (KMV merge is lossless), so
    per-type distinct estimates never need a rescan of history."""
    from pyspark.sql import functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.operators.sketches import KMV_K, kmv_merge, kmv_sketch
    from form700_etl_spark.streaming.events_stream import parquet_stream

    feed = str(tmp_path / "feed")
    table(spark, sf_dir, "events").repartition(4).write.parquet(feed)
    parts = str(tmp_path / "partials")

    def sketch_batch(batch_df, batch_id: int) -> None:
        sk = kmv_sketch(batch_df, ["event_type"], "user_id", k=KMV_K)
        sk.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(parts)

    q = (
        parquet_stream(spark, feed, "*.parquet", files_per_trigger=1)
        .writeStream.foreachBatch(sketch_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    partials = spark.read.parquet(parts)
    assert partials.select("batch_id").distinct().count() == 4
    merged = {
        r.event_type: r.hashes
        for r in kmv_merge(partials, ["event_type"], k=KMV_K).collect()
    }
    whole = {
        r.event_type: r.hashes
        for r in kmv_sketch(
            spark.read.parquet(feed), ["event_type"], "user_id", k=KMV_K
        ).collect()
    }
    assert merged == whole


def test_stream_kmv_distinct_deterministic_across_micro_batches(
    spark, sf_dir, tmp_path
):
    """The documented contract: the final KMV state (and estimate) is
    bit-identical under ANY micro-batching.  Feed the same events in 4
    micro-batches (maxFilesPerTrigger=1) and in 1, and require equal
    results — this is exactly the case a sketch_size tie-break would
    break, since sketch_size saturates at k."""
    from form700_etl_spark.io import table
    from form700_etl_spark.streaming.events_stream import (
        parquet_stream,
        stream_kmv_distinct,
    )

    feed = str(tmp_path / "feed")
    table(spark, sf_dir, "events").repartition(4).write.parquet(feed)

    def run(max_files):
        stream = parquet_stream(spark, feed, "*.parquet", max_files).withWatermark(
            "ts", "10 seconds"
        )
        return {
            r["event_type"]: (r["sketch_size"], r["kmv_estimate"])
            for r in stream_kmv_distinct(spark, sf_dir, events=stream).collect()
        }

    assert run(1) == run(4)


def test_late_audit_one_batch_lag_is_version_pinned(spark, sf_dir):
    """stream_late_data_audit's accepted_rows oracle bakes in a pyspark
    4.1.x behavior: the state operator's late-record filter evaluates
    against the watermark as of the PREVIOUS batch's start, so the first
    late batch (8-22 days behind a 1-hour watermark) is ACCEPTED and
    only the second late batch drops.  If a Spark upgrade tightens the
    filter to the current watermark, accepted_rows shrinks to the
    on-time count and this test localizes the break before the oracle
    sweep does.  Also locks the ADVICE r10 split-invariance fix: the
    dropped-group count must equal the distinct (hour, event_type)
    pairs below the old split regardless of how the replay files split
    into input partitions (repartition(1) pins the partial agg)."""
    import pyspark

    from form700_etl_spark.io import table
    from form700_etl_spark.streaming.events_stream import (
        LATE_AUDIT_SPLIT_OLD,
        LATE_AUDIT_SPLIT_RECENT,
        stream_late_data_audit,
    )

    if not pyspark.__version__.startswith("4.1."):
        # xfail, not assert: on a Spark upgrade the behavior assertion
        # below stays the signal ("did the one-batch lag change?")
        # instead of an unconditional version-string failure.
        pytest.xfail(
            "the one-batch watermark-filter lag was measured on pyspark "
            f"4.1.x; re-verify stream_late_data_audit on {pyspark.__version__}"
        )
    row = stream_late_data_audit(spark, sf_dir).collect()[0]
    events = table(spark, sf_dir, "events")
    on_time = events.where(F.col("ts") >= LATE_AUDIT_SPLIT_RECENT).count()
    mid_late = events.where(
        (F.col("ts") >= LATE_AUDIT_SPLIT_OLD)
        & (F.col("ts") < LATE_AUDIT_SPLIT_RECENT)
    ).count()
    dropped_expected = (
        events.where(F.col("ts") < LATE_AUDIT_SPLIT_OLD)
        .select(F.date_trunc("hour", "ts"), "event_type")
        .distinct()
        .count()
    )
    assert row.input_rows == events.count()
    # the lag, explicitly: accepted = on-time PLUS the first late batch
    assert row.accepted_rows == on_time + mid_late
    assert row.dropped_groups == dropped_expected


def test_bench_tumbling_throughput_steady_state(spark, sf_dir):
    """The bench streaming drive must (a) run the multi-batch replay it
    claims (>= 5 micro-batches, one full-table copy each), (b) actually
    aggregate EVERY replayed batch — complete mode must not late-drop
    the replays (the drive's watermark is inert by design), (c) produce
    the same result-group KEYS as the single-pass oracle-checked query,
    and (d) report a steady-state events/s computed from post-batch-0
    progress rows."""
    from form700_etl_spark.streaming.events_stream import (
        bench_tumbling_throughput,
        stream_tumbling_counts,
    )

    run = bench_tumbling_throughput(spark, sf_dir, n_batches=8)
    assert run["n_batches"] >= 5
    assert run["events_processed"] == run["n_batches"] * run["events"]
    assert run["result_rows"] == stream_tumbling_counts(spark, sf_dir).count()
    assert run["events_per_s"] > 0
    steady = [b for b in run["batches"] if b["batch_id"]]
    assert sum(b["num_input_rows"] for b in steady) == (
        (run["n_batches"] - 1) * run["events"]
    )
    # the drive derives its state-partition count from batch volume,
    # capped at the cluster's width
    from form700_etl_spark.io import width

    assert 1 <= run["state_partitions"] <= width(spark)


def test_bench_stream_reports_applied_state_partitions(spark, sf_dir):
    """The drive's ``state_partitions`` is the count the stateful operator
    reported in its progress, so it must equal the count derived from
    batch volume and capped at ``io.width``.  At the fixture's volume
    that is 1, below the session's ``shuffle.partitions`` (>= 4): a conf
    restore that landed before the query read its conf would show up
    here as the session value, and the session value must be back."""
    from form700_etl_spark.io import width
    from form700_etl_spark.streaming.events_stream import (
        bench_tumbling_throughput,
        derive_stream_state_partitions,
    )

    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    run = bench_tumbling_throughput(spark, sf_dir, n_batches=2)
    assert run["state_partitions"] == derive_stream_state_partitions(
        run["events"], width(spark)
    )
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == session_parts


def test_run_to_completion_leaves_no_temp_view(spark, sf_dir):
    """Each memory-sink drive registers its sink as a temp view; the
    drive must drop it once the result frame has resolved it, so
    repeated runs leave the session catalog unchanged while every
    returned frame still reads its rows."""
    from form700_etl_spark.streaming.events_stream import stream_tumbling_counts

    def catalog():
        return sorted(t.name for t in spark.catalog.listTables())

    before = catalog()
    outs = [stream_tumbling_counts(spark, sf_dir) for _ in range(3)]
    assert catalog() == before
    rows = [sorted(tuple(r) for r in out.collect()) for out in outs]
    assert rows[0] and rows[0] == rows[1] == rows[2]


def test_replay_stream_delivers_batch_i_as_micro_batch_i(spark):
    """replay_stream's order contract: batch i arrives as micro-batch i,
    so the per-batch input counts in the progress equal the slice
    counts in order.  Slices of distinct sizes make any reordering
    visible; the repeated slice exercises the copied-file path."""
    from form700_etl_spark.streaming.events_stream import (
        replay_stream,
        run_to_completion,
    )

    ids = spark.range(100)
    slices = [ids.where(F.col("id") < n) for n in (7, 40, 2, 19)]
    slices.append(slices[1])
    with replay_stream(spark, slices) as stream:
        result, progress = run_to_completion(stream, "append")
    got = [p["numInputRows"] for p in progress if p.get("numInputRows")]
    assert got == [7, 40, 2, 19, 40]
    assert result.count() == sum(got)


def test_derive_stream_state_partitions_bounds():
    """Volume-derived state sharding (r16): ~1 partition per 25k
    rows/batch, never 0, never above the session cap — so tiny batches
    stop paying 32 state-store commits for 3k rows of work, and a
    100 TB stream still fans out to the full cluster."""
    from form700_etl_spark.streaming.events_stream import (
        derive_stream_state_partitions,
    )

    assert derive_stream_state_partitions(0, 32) == 32  # unknown -> cap
    assert derive_stream_state_partitions(1, 32) == 1
    assert derive_stream_state_partitions(25_000, 32) == 1
    assert derive_stream_state_partitions(100_000, 32) == 4
    assert derive_stream_state_partitions(100_000, 8) == 4
    assert derive_stream_state_partitions(10_000_000, 32) == 32  # capped
    assert derive_stream_state_partitions(10_000_000, 2000) == 400


def test_stream_simhash_near_dup_equals_batch_pairs(spark, sf_dir):
    """Completeness contract of the streaming banded-SimHash near-dup:
    the pair set emitted across micro-batches (bucket members carried
    in keyed GroupState) must equal the batch self-join's pair set
    EXACTLY — same pigeonhole completeness at Hamming<=3, arrival order
    only decides WHEN a pair is emitted, never whether.  Also asserts
    cross-batch pairs exist (state actually carried members forward;
    with doc_id%4 slicing, most near-dup pairs span batches)."""
    from form700_etl_spark.registry import all_queries
    from form700_etl_spark.streaming.docs_near_dup import (
        stream_simhash_near_dup,
    )

    out = stream_simhash_near_dup(spark, sf_dir, n_batches=4)
    got = sorted((r.doc1, r.doc2, r.hamming) for r in out.collect())
    batch = all_queries()["dedup_simhash_hamming"].fn(spark, sf_dir)
    want = sorted((r.doc1, r.doc2, r.hamming) for r in batch.collect())
    assert got == want
    assert any(d1 % 4 != d2 % 4 for d1, d2, _ in got), (
        "no cross-batch pair emitted — state not exercised"
    )


def test_stream_simhash_near_dup_windowed_equals_window_restricted_pairs(
    spark, sf_dir
):
    """TTL-bounded streaming near-dup (VERDICT r14 task 5): with bucket
    state evicted to the last WINDOWED_WINDOW+1 batches, the emitted
    pair set must equal the batch pair set restricted to arrival
    batches within the window (batch index = doc_id % n under the
    deterministic replay slicing) — and must be a STRICT subset of the
    unbounded pair set (the fixture has cross-window pairs, so the
    eviction is exercised, not vacuous)."""
    from form700_etl_spark.registry import all_queries
    from form700_etl_spark.streaming.docs_near_dup import (
        WINDOWED_N_BATCHES,
        WINDOWED_WINDOW,
        stream_simhash_near_dup_windowed,
    )

    out = stream_simhash_near_dup_windowed(spark, sf_dir)
    got = sorted((r.doc1, r.doc2, r.hamming) for r in out.collect())
    batch = all_queries()["dedup_simhash_hamming"].fn(spark, sf_dir)
    full = sorted((r.doc1, r.doc2, r.hamming) for r in batch.collect())
    n, w = WINDOWED_N_BATCHES, WINDOWED_WINDOW
    want = [p for p in full if abs(p[0] % n - p[1] % n) <= w]
    assert got == want
    assert len(got) < len(full), (
        "window excluded nothing — eviction not exercised by fixture"
    )


class _FakeGroupState:
    """Minimal GroupState stand-in so the update closure's eviction
    logic can be unit-tested deterministically without a stream."""

    def __init__(self):
        self._value = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value


def test_make_update_evicts_members_outside_window():
    """State-bound law of the windowed variant, asserted directly on
    the update closure: after each arrival batch, bucket state holds
    ONLY members from the last window+1 batches, and pairs are emitted
    iff their members' batches are within the window."""
    import pandas as pd

    from form700_etl_spark.streaming.docs_near_dup import _make_update

    update = _make_update(1)
    state = _FakeGroupState()
    emitted = []
    # identical signatures (hamming 0, lowest shared band 0): docs
    # 0..3 arrive one per batch in this band-0 bucket
    for batch in range(4):
        pdf = pd.DataFrame(
            {
                "doc_id": [batch],
                "simhash_lo": [0],
                "simhash_hi": [0],
                "arrival_batch": [batch],
            }
        )
        for out in update((0,), [pdf], state):
            emitted.extend(zip(out["doc1"], out["doc2"], out["hamming"]))
        docs, _, _, bats = state.get
        assert all(b >= batch - 1 for b in bats), (
            f"stale member survived eviction at batch {batch}: {bats}"
        )
        assert len(docs) <= 2  # window+1 batches x 1 doc/batch
    # only adjacent-batch pairs emitted; (0,2), (0,3), (1,3) evicted away
    assert sorted(emitted) == [(0, 1, 0), (1, 2, 0), (2, 3, 0)]
    # unbounded closure on the same feed emits all 6 pairs
    update_all = _make_update(None)
    state2, emitted2 = _FakeGroupState(), []
    for batch in range(4):
        pdf = pd.DataFrame(
            {
                "doc_id": [batch],
                "simhash_lo": [0],
                "simhash_hi": [0],
                "arrival_batch": [batch],
            }
        )
        for out in update_all((0,), [pdf], state2):
            emitted2.extend(zip(out["doc1"], out["doc2"], out["hamming"]))
    assert len(emitted2) == 6


def _brute_windowed_pairs(sigs, batches, hamming_max, window):
    """O(n^2) reference: (doc1, doc2, hamming) for every pair within
    the Hamming budget whose arrival batches differ by <= window (None
    = unbounded)."""
    out = []
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            (l1, h1), (l2, h2) = sigs[a], sigs[b]
            h = (l1 ^ l2).bit_count() + (h1 ^ h2).bit_count()
            if h > hamming_max:
                continue
            if window is not None and abs(batches[a] - batches[b]) > window:
                continue
            out.append((a, b, h))
    return sorted(out)


def _drive_banded_stream(sigs, batches, window):
    """Replay the banded-bucket stream driver in pure Python: docs
    arrive batch by batch, each doc is delivered to its 4 (band, value)
    buckets, every bucket runs the REAL _make_update closure against
    its own _FakeGroupState."""
    import pandas as pd

    from form700_etl_spark.streaming.docs_near_dup import _make_update

    update = _make_update(window)
    states: dict = {}
    emitted = []
    n_batches = max(batches.values()) + 1
    for t in range(n_batches):
        arrivals: dict = {}
        for doc, bt in batches.items():
            if bt != t:
                continue
            lo, hi = sigs[doc]
            for b, val in enumerate(
                (lo & 0xFFFF, lo >> 16, hi & 0xFFFF, hi >> 16)
            ):
                arrivals.setdefault((b, val), []).append(doc)
        for key, docs in arrivals.items():
            pdf = pd.DataFrame(
                {
                    "doc_id": docs,
                    "simhash_lo": [sigs[d][0] for d in docs],
                    "simhash_hi": [sigs[d][1] for d in docs],
                    "arrival_batch": [t] * len(docs),
                }
            )
            state = states.setdefault(key, _FakeGroupState())
            for out in update(key, [pdf], state):
                emitted.extend(
                    (int(a), int(b), int(h))
                    for a, b, h in zip(out["doc1"], out["doc2"], out["hamming"])
                )
    return sorted(emitted)


def test_streaming_near_dup_property_matches_bruteforce():
    """Property (hypothesis): for ARBITRARY 64-bit signature corpora —
    base signatures plus near-clones within the Hamming budget — and
    arbitrary batch assignments, the banded streaming closure emits
    EXACTLY the brute-force windowed pair set: pigeonhole completeness,
    first-shared-band exactly-once emission, and window eviction all at
    once, for both the unbounded and the windowed variant."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.data())
    def run(data):
        rnd = data.draw(st.randoms(use_true_random=False))
        n_base = data.draw(st.integers(1, 6))
        n_clone = data.draw(st.integers(0, 10))
        n_batches = data.draw(st.integers(1, 5))
        window = data.draw(st.sampled_from([None, 0, 1, 2]))
        sigs = {}
        for d in range(n_base):
            sigs[d] = (rnd.getrandbits(32), rnd.getrandbits(32))
        for d in range(n_base, n_base + n_clone):
            base_lo, base_hi = sigs[rnd.randrange(n_base)]
            for _ in range(rnd.randint(0, 4)):  # 0-4 bit flips
                bit = rnd.randrange(64)
                if bit < 32:
                    base_lo ^= 1 << bit
                else:
                    base_hi ^= 1 << (bit - 32)
            sigs[d] = (base_lo, base_hi)
        batches = {d: rnd.randrange(n_batches) for d in sigs}
        # stream processes batches in arrival order; the brute reference
        # only sees batch indices — same semantics by construction
        want = _brute_windowed_pairs(sigs, batches, 3, window)
        got = _drive_banded_stream(sigs, batches, window)
        assert got == want, (got, want, sigs, batches, window)

    run()

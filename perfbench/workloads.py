"""The benchmark's workloads.

Each workload is one client in a closed loop: it issues its next operation only
when the previous one has returned.  A pass runs every operation of the
workload once.  The first pass, in a fresh SparkSession, is an untimed warm-up
that pays the JVM's class loading and JIT compilation; it is part of the set-up
(``setup_s``).  ``TIMED_PASSES`` timed passes follow, more only if
``seconds`` have not yet elapsed; a workload's figures are medians over its
timed passes.  The seed makes the input tables and, on ``query_r4``,
shuffles the query order of each pass.

Every operation goes through the engine's public functions and is checked
against DuckDB over the same generated tables.  A workload returns an
``Outcome``: the latency of each measured operation, failure counts, and --
when traced -- the figures the per-layer metrics need.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from spans import EXEC_FIELDS, descendants, exec_counters, median_or_zero, self_times, tree_cpu_s

# The query mix: 3 of the 24 queries of the r4 set (BENCH_r04.json), chosen
# to cover what the set exercises -- a six-table join whose builder reads each
# table through io.table, each read inferring its schema with a job (q5),
# eager checkpoints in a builder (dedup_clusters_connected) and a sketch
# aggregate -- while the cold warm-up pass stays inside the run budget
# (README.md).
# Python workers are timed by the ETL's sink.
QUERIES = (
    "q5_region_nation_revenue",
    "dedup_clusters_connected",
    "sketch_hll_rollup",
)
# The r4 set's streaming entry, run as one more operation of the mix.
STREAM_OP = "stream_tumbling_hourly"
STREAM_BATCHES = 3  # micro-batches per drive; batch 0 pays start-up
# Row count of the query that has no DuckDB oracle.  It follows from the
# generator's shape, not its seed: one HLL estimate per event type.
PINNED_ROWS = {"sketch_hll_rollup": 5}
# The ETL's datasets: one of each shape the pipeline handles -- the cover
# table (list columns stringified), an explode with its prefix rename
# (scheduleA2's realProperties) and a nested struct flattened to dotted
# columns (scheduleB's loan).  More datasets would put a run past its budget
# (README.md).
ETL_DATASETS = ("cover", "scheduleA2", "scheduleB")
# Timed passes per run, whatever the host's speed.  The JVM keeps getting
# faster for eight passes and more after the warm-up pass (README.md), so a
# pass count set by the clock would let the host's speed choose how far along
# that curve a run's median sits; ``run_seconds`` is set below the time two
# passes take on the fastest host seen.
TIMED_PASSES = 2
# The reference sleeps 0.25 s after each 1000-row chunk; timing that sleep
# would measure the throttle, not the engine (README.md).
ETL_SINK_THROTTLE_S = 0.0


@dataclass
class Op:
    key: str  # dataset or query name
    pass_no: int  # 0 is the warm-up pass
    wall_s: float
    cpu_s: float  # CPU time of this process and its descendants (spans.tree_cpu_s)
    ok: bool


@dataclass
class Outcome:
    ops: list[Op]
    attempted: int
    failed: int
    failures: list[str]
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    @property
    def timed(self) -> list[Op]:
        return [op for op in self.ops if op.pass_no]

    def per_pass(self, attr: str) -> float:
        """One timed pass's worth of ``attr`` (``wall_s`` or ``cpu_s``): per
        operation the median over the timed passes, summed."""
        return per_key_median_sum((op.key, getattr(op, attr)) for op in self.timed)

    def warmup(self, attr: str) -> float:
        return sum(getattr(op, attr) for op in self.ops if not op.pass_no)


class Ctx:
    def __init__(self, spark, sf_dir, work_dir, seconds, tracer, duck, seed):
        self.spark, self.sf_dir, self.work_dir = spark, sf_dir, work_dir
        self.seconds, self.tracer, self.duck = seconds, tracer, duck
        self.rng = random.Random(seed)
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def count(self, sql: str) -> int:
        return self.duck.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]


def catalyst_s(df) -> float:
    """Analysis + optimization + planning of ``df``'s own query execution, the
    one its action ran, from its QueryPlanningTracker.  Read after the action:
    it plans nothing itself."""
    phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001 — no Python API
    total_ms = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1e3


def full_gc(spark) -> None:
    """Drop the Python references to JVM objects, then run a full JVM
    collection.  Called before each operation, outside its timing, so every
    operation starts from a collected heap.  Without it, G1's concurrent
    marking cycles (started by humongous allocations, run on a background
    thread) spanned operations and landed on whichever one was running: the
    same query's CPU seconds varied by up to half between runs at the same
    wall time."""
    gc.collect()
    spark._jvm.java.lang.System.gc()  # noqa: SLF001 — no Python API


def per_key_median_sum(pairs) -> float:
    """Sum over keys of the median per key: one pass's worth of a figure."""
    by_key: dict[str, list[float]] = {}
    for k, v in pairs:
        by_key.setdefault(k, []).append(v)
    return sum(median_or_zero(v) for v in by_key.values())


def closed_loop(ctx: Ctx, keys, run_op, shuffle: bool = False) -> list[Op]:
    """The warm-up pass (pass 0, inside a ``warmup`` span), then whole timed
    passes until ``seconds`` have elapsed, at least ``TIMED_PASSES``.  With
    ``shuffle`` each pass runs ``keys`` in an order drawn from the seed.
    ``run_op(key, pass_no)`` returns True when its result checked out."""
    ops: list[Op] = []

    def one_pass(pass_no: int) -> None:
        order = list(keys)
        if shuffle:
            ctx.rng.shuffle(order)
        for key in order:
            full_gc(ctx.spark)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                ok = run_op(key, pass_no)
            except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
                ctx.fail(f"{key}, pass {pass_no}: {type(exc).__name__}: {exc}")
                ok = False
            ops.append(Op(key, pass_no, time.perf_counter() - t0, tree_cpu_s() - c0, ok))

    with ctx.tracer.span("warmup"):
        one_pass(0)
    deadline = time.perf_counter() + ctx.seconds
    pass_no = 1
    while pass_no <= TIMED_PASSES or time.perf_counter() < deadline:
        one_pass(pass_no)
        pass_no += 1
    return ops


# ---------------------------------------------------------------- etl_dual_load


def etl_load(ctx: Ctx) -> Outcome:
    """The Form 700 ETL as its batch job runs it.  Per dataset: build the plan
    (``synthesize_filings`` + ``run_form700_pipeline``, the pruned
    single-dataset construction) and load it through ``ChunkedSink``; the last
    load of a pass runs the A3 audit over the pass's sink reports.  Each load
    must reconcile, and its row count must equal the
    ``ref_pipeline_dual_audit`` oracle's for that dataset."""
    from form700_etl_spark.plans.form700 import run_form700_pipeline, synthesize_filings
    from form700_etl_spark.registry import oracle_sqls
    from form700_etl_spark.sinks.chunked import (
        ChunkedSink,
        ChunkedSinkConfig,
        LocalDirClient,
        job_status_rows,
    )

    datasets = ETL_DATASETS
    expected = dict(ctx.duck.execute(oracle_sqls()["ref_pipeline_dual_audit"]).fetchall())
    config = ChunkedSinkConfig(throttle_s=ETL_SINK_THROTTLE_S)
    tr, spark = ctx.tracer, ctx.spark
    sink_root = os.path.join(ctx.work_dir, "sink")
    reports: dict[int, list] = {}
    frames: list[tuple[str, object]] = []  # timed loads' frames, for their trackers

    def load(base: str, pass_no: int) -> bool:
        with tr.span("etl.load", op=base):
            with tr.span("plans.build"):
                filings = synthesize_filings(spark, ctx.sf_dir, datasets=(base,))
                df = run_form700_pipeline(filings, datasets=(base,))[base]
            with tr.span("sinks.write"):
                client = LocalDirClient(os.path.join(sink_root, f"p{pass_no}", base))
                rep = ChunkedSink(client, config).write(df, base)
            done = reports.setdefault(pass_no, [])
            done.append(rep)
            audit_ok = True
            if len(done) == len(datasets):
                with tr.span("etl.audit"):
                    overall, _ = job_status_rows(done)
                audit_ok = overall == "SUCCESS"
        if tr.enabled and pass_no:
            frames.append((base, df))
        if not audit_ok:
            ctx.fail(f"etl audit, pass {pass_no}: FAILURE")
        if not rep.success or rep.total_records != expected[base]:
            ctx.fail(f"etl {base}: loaded {rep.rows_inserted} of {rep.total_records}, "
                     f"oracle {expected[base]}")
            return False
        return audit_ok

    ops = closed_loop(ctx, datasets, load)
    # the timed passes' sink output is counted and removed after the timed region
    reports.pop(0, None)
    chunks = 0
    for p in reports:
        for _, _, files in os.walk(os.path.join(sink_root, f"p{p}")):
            chunks += sum(not f.startswith((".", "_")) for f in files)
    shutil.rmtree(sink_root, ignore_errors=True)
    out = Outcome(ops=ops, attempted=len(ops), failed=sum(not op.ok for op in ops),
                  failures=ctx.failures)
    out.report = {"etl_s": out.per_pass("wall_s"), "datasets": len(datasets),
                  "rows_per_pass": sum(expected[d] for d in datasets)}
    if tr.enabled:
        n_pass = len(reports)
        out.layers = {
            "catalyst.s": per_key_median_sum((k, catalyst_s(df)) for k, df in frames),
            "sinks.rows": sum(r.rows_inserted for rs in reports.values() for r in rs) / n_pass,
            "sinks.chunks": chunks / n_pass,
        }
        frames.clear()
    return out


# -------------------------------------------------------------------- query_r4


def query_mix(ctx: Ctx) -> Outcome:
    """The r4 set as an analyst meets it: each query built with
    ``fn(spark, sf)`` and run with a count, plus the set's streaming
    entry, ``bench_tumbling_throughput``, which replays the events table once
    per micro-batch into the complete-mode hourly aggregation.  Every count is
    checked against its oracle's; after the timed region each oracled query's
    values are compared with DuckDB's, cell for cell."""
    from form700_etl_spark.registry import oracle_sqls, spark_queries
    from form700_etl_spark.streaming.events_stream import bench_tumbling_throughput

    fns = spark_queries()
    oracles = oracle_sqls()
    expected = {q: ctx.count(oracles[q]) if q in oracles else PINNED_ROWS[q] for q in QUERIES}
    stream_rows = ctx.count(oracles["events_tumbling_hourly"])
    n_events = ctx.count("SELECT * FROM events")
    tr, spark = ctx.tracer, ctx.spark
    counted: list[tuple[str, object]] = []  # timed counts' frames, for their trackers
    batches: list[dict] = []
    parts: list[int] = []
    built: dict = {}  # the last plan built per query, for the value comparison

    def run_query(name: str, pass_no: int) -> bool:
        if name == STREAM_OP:
            return run_stream(pass_no)
        with tr.span("queries.query", op=name):
            with tr.span("queries.build"):
                df = fns[name](spark, ctx.sf_dir)
            with tr.span("queries.exec"):
                # the plan ``df.count()`` runs, held as a Dataset of its own so
                # the QueryExecution that ran can be read afterwards
                count_df = df.groupBy().count()
                n = count_df.collect()[0][0]
        built[name] = df
        if tr.enabled and pass_no:
            counted.append((name, count_df))
        if n != expected[name]:
            ctx.fail(f"query {name}: {n} rows, oracle {expected[name]}")
            return False
        return True

    def run_stream(pass_no: int) -> bool:
        with tr.span("streaming.drive", op=STREAM_OP):
            r = bench_tumbling_throughput(spark, ctx.sf_dir, n_batches=STREAM_BATCHES)
        if pass_no:
            batches.extend(b for b in r["batches"] if b["batch_id"] and b["trigger_ms"])
            parts.append(r["state_partitions"])
        if r["result_rows"] != stream_rows or r["events_processed"] != STREAM_BATCHES * n_events:
            ctx.fail(f"stream: {r['result_rows']} rows (oracle {stream_rows}), "
                     f"{r['events_processed']} events (want {STREAM_BATCHES * n_events})")
            return False
        return True

    ops = closed_loop(ctx, QUERIES + (STREAM_OP,), run_query, shuffle=True)
    value_failures = compare_values(ctx, {q: df for q, df in built.items() if q in oracles}, oracles)
    built.clear()  # let the plans' checkpoint blocks go before the heap is measured
    steady_ms = [b["trigger_ms"] for b in batches]
    out = Outcome(ops=ops, attempted=len(ops) + sum(q in oracles for q in QUERIES),
                  failed=sum(not op.ok for op in ops) + value_failures, failures=ctx.failures)
    out.report = {
        "query_mix_s": out.per_pass("wall_s"),
        "query_p50_s": median_or_zero(op.wall_s for op in out.timed if op.key != STREAM_OP),
        "stream_events_per_s": n_events * len(steady_ms) / (sum(steady_ms) / 1e3)
        if steady_ms else 0.0,
        "stream_batch_p50_ms": median_or_zero(steady_ms),
    }
    if tr.enabled:
        out.layers = {
            "catalyst.s": per_key_median_sum((k, catalyst_s(df)) for k, df in counted),
            "streaming.state_partitions": median_or_zero(parts),
            "streaming.add_batch_ms_p50": median_or_zero(b["add_batch_ms"] for b in batches),
            "streaming.overhead_ms_p50": median_or_zero(
                b["trigger_ms"] - b["add_batch_ms"] for b in batches),
        }
        counted.clear()
    return out


def compare_values(ctx: Ctx, frames: dict, oracles) -> int:
    """Cell-for-cell comparison of each built plan's rows with DuckDB's through
    the repository's own oracle comparator; returns the number that differ."""
    from tests.oracle_harness import compare

    bad = 0
    for name, df in frames.items():
        try:
            compare(df, ctx.duck, oracles[name], name)
        except AssertionError as exc:
            bad += 1
            ctx.fail(f"values {name}: {str(exc).splitlines()[0]}")
    return bad


WORKLOADS = {"etl_dual_load": etl_load, "query_r4": query_mix}


# ------------------------------------------------------------ per-layer figures

OP_SPANS = {"etl.load": "etl", "queries.query": "query", "streaming.drive": "stream"}


def layer_metrics(tracer, outcome: Outcome, session_s: float) -> dict:
    """Per-layer figures of one traced run.  Each is one timed pass's worth:
    per operation key the median over timed passes, summed over keys.  Layer
    times are self times of the spans around the calls into that layer."""
    spans = tracer.spans
    selft = self_times(spans)
    own_jobs: dict[int, list[dict]] = {}
    for j in tracer.jobs:
        if j["span"] is not None:
            own_jobs.setdefault(j["span"], []).append(j)
    # the timed passes' operations; the warm-up pass's sit under its span
    roots = [s for s in spans if s.name in OP_SPANS and s.parent is None]
    trees = {r.sid: descendants(spans, r) for r in roots}

    def tree_jobs(root) -> list[dict]:
        return [j for s in trees[root.sid] for j in own_jobs.get(s.sid, [])]

    def per_op(value) -> float:
        """``value(op_span)`` per operation; median per key, summed."""
        return per_key_median_sum((r.op, value(r)) for r in roots)

    def in_spans(name: str, value):
        """``value`` summed over an operation's spans called ``name``."""
        return lambda r: sum(value(s) for s in trees[r.sid] if s.name == name)

    def self_s(s) -> float:
        return selft[s.sid]

    def njobs(s) -> int:
        return len(own_jobs.get(s.sid, []))

    def schema(jobs) -> list[dict]:
        return [j for j in jobs if j["name"].startswith("parquet at")]

    m: dict[str, float] = {"session.start_s": session_s}
    m["plans.build_s"] = per_op(in_spans("plans.build", self_s))
    m["plans.build_jobs"] = per_op(in_spans("plans.build", njobs))
    m["plans.build_cpu_s"] = per_op(in_spans("plans.build", lambda s: s.cpu))
    m["sinks.write_s"] = per_op(in_spans("sinks.write", self_s))
    m["sinks.write_cpu_s"] = per_op(in_spans("sinks.write", lambda s: s.cpu))
    m["sinks.rows"] = outcome.layers.get("sinks.rows", 0.0)
    m["sinks.chunks"] = outcome.layers.get("sinks.chunks", 0.0)
    m["sinks.rows_per_s"] = m["sinks.rows"] / m["sinks.write_s"] if m["sinks.write_s"] else 0.0
    m["io.schema_jobs"] = per_op(lambda r: len(schema(tree_jobs(r))))
    m["io.schema_s"] = per_op(lambda r: sum(j["end"] - j["start"] for j in schema(tree_jobs(r))))
    for part in ("build", "exec"):
        m[f"queries.{part}_s"] = per_op(in_spans(f"queries.{part}", self_s))
        m[f"queries.{part}_jobs"] = per_op(in_spans(f"queries.{part}", njobs))
        m[f"queries.{part}_cpu_s"] = per_op(in_spans(f"queries.{part}", lambda s: s.cpu))
        for q in QUERIES:
            m[f"queries.{q}.{part}_s"] = median_or_zero(
                in_spans(f"queries.{part}", self_s)(r) for r in roots if r.op == q)
    m["catalyst.s"] = outcome.layers.get("catalyst.s", 0.0)
    for kind in ("etl", "query", "stream"):
        counters = [(r.op, exec_counters(tree_jobs(r), (r.start, r.end)))
                    for r in roots if OP_SPANS[r.name] == kind]
        for k in ("driver_s",) + EXEC_FIELDS:
            m[f"{kind}.{k}"] = per_key_median_sum((op, c[k]) for op, c in counters)
    for k in ("streaming.state_partitions", "streaming.add_batch_ms_p50",
              "streaming.overhead_ms_p50"):
        m[k] = outcome.layers.get(k, 0.0)
    return m

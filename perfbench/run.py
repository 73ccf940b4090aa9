"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository.  It generates the input
tables from ``--seed``, starts a SparkSession with ``get_spark``, runs one
workload from ``workloads.py`` (two timed passes, more while ``--seconds``
have not elapsed) and prints, as its last line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Set-up is the session start plus the workload's
untimed warm-up pass.  With ``--trace 0`` the metrics are the
``end_to_end`` ones named in ``BENCHMARK.json``; with ``--trace 1`` they are the
``per_layer`` ones, taken from spans around each call into the engine, and the
spans are written to ``.perfbench/traces/``.  Everything the run writes stays
under ``.perfbench/`` in the checkout; its scratch directory is removed at the
end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
MB = 1024.0 * 1024.0
# Scale factor of the generated tables: sf0.001 keeps a run of either
# workload, cold warm-up pass included, under a minute on a 4-core host
# (README.md).
SF = 0.001


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(root: str, work: str) -> None:
    """Environment for this process, the JVM and Spark's Python workers; must be
    set before pyspark launches the JVM."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={os.path.join(work, 'tmp')}".strip()


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM and wait for it to exit
    (it exits when its stdin closes); Spark's Python workers are its children."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def heap_live_mb(spark) -> float:
    """Driver JVM heap in use after full GCs (in local mode this heap also
    holds executor storage and checkpoint blocks).  Objects that only py4j or
    Spark's ContextCleaner still reference take a few rounds of Python GC, JVM
    GC and cleaner work to go, so collect until three readings agree."""
    from workloads import full_gc

    rt = spark._jvm.java.lang.Runtime.getRuntime()  # noqa: SLF001
    readings: list[float] = []
    for _ in range(12):
        full_gc(spark)
        time.sleep(0.5)
        readings.append((rt.totalMemory() - rt.freeMemory()) / MB)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
    return readings[-1]


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "form700_etl_spark", "__init__.py")):
        print("perfbench: run from the repository root (form700_etl_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    bench_dir = os.path.join(root, ".perfbench")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(root, work)
    print(f"perfbench workload={args.workload} seed={args.seed} nproc={nproc()} "
          f"loadavg={' '.join(f'{x:.2f}' for x in os.getloadavg())}", flush=True)
    try:
        result = run(args, root, work, bench_dir, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run(args, root: str, work: str, bench_dir: str, spec: dict) -> dict:
    import datagen
    import workloads
    from spans import NullTracer, Tracer, tree_cpu_s
    from tests.oracle_harness import duckdb_connection

    sf_dir = datagen.write_tables(os.path.join(work, "data"), SF, args.seed)
    duck = duckdb_connection(sf_dir)

    c0, t0, wall0 = tree_cpu_s(), time.perf_counter(), time.time()
    from form700_etl_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    session_cpu_s = tree_cpu_s() - c0
    try:
        run_id = f"{args.workload}-{args.seed}"
        tracer = Tracer(spark, run_id) if args.trace else NullTracer()
        tracer.record("session.get_spark", wall0, wall0 + session_s, session_cpu_s)
        fn = workloads.WORKLOADS[args.workload]
        ctx = workloads.Ctx(spark, sf_dir, work, args.seconds, tracer, duck, args.seed)
        out = fn(ctx)
        heap = heap_live_mb(spark)
        if args.trace:
            jobs = tracer.collect_jobs()
            if jobs and len(jobs) != jobs[-1]["job"] + 1:
                print(f"warning: {jobs[-1]['job'] + 1 - len(jobs)} jobs dropped from the "
                      "status store; job counts are low", flush=True)
            layers = workloads.layer_metrics(tracer, out, session_s)
            layers["trace.pass_s"] = out.per_pass("wall_s")
            layers["trace.pass_cpu_s"] = out.per_pass("cpu_s")
            layers["trace.overhead_s"] = tracer.overhead_s
            os.makedirs(os.path.join(bench_dir, "traces"), exist_ok=True)
            tracer.dump(os.path.join(bench_dir, "traces", f"{run_id}.json"))
    finally:
        stop_spark(spark)

    e2e = {
        # CPU seconds of the process tree, as for passes: time that other
        # tenants of a shared host take from the run stretches wall time only
        "setup_s": session_cpu_s + out.warmup("cpu_s"),
        "pass_cpu_s": out.per_pass("cpu_s"),
        "heap_live_mb": heap,
    }
    report = dict(out.report)
    report.update(session_s=session_s, setup_wall_s=session_s + out.warmup("wall_s"),
                  pass_s=out.per_pass("wall_s"), passes=max(op.pass_no for op in out.ops),
                  op_samples=len(out.timed),
                  op_p50_s=statistics.median(op.wall_s for op in out.timed),
                  error_rate=out.failed / out.attempted)
    print("report " + " ".join(f"{k}={_fmt(v)}" for k, v in report.items()), flush=True)
    for op in out.ops:
        print(f"op pass={op.pass_no} key={op.key} wall_s={op.wall_s:.4f} cpu_s={op.cpu_s:.4f} "
              f"ok={op.ok}", flush=True)
    for f in out.failures:
        print(f"failure {f}", flush=True)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    return {
        "correct": out.failed == 0,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": metrics,
    }


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


if __name__ == "__main__":
    sys.exit(main())

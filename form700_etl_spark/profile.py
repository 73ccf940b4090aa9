"""Profiling: the engine's one reader of Spark's status store, and the
per-query record built on it.

The status store (``AppStatusStore``; it backs the web UI and is kept
with ``spark.ui.enabled=false`` too) holds every job's group, name,
description and stages, and every stage's executor counters.  It has
no Python API.  ``jobs`` reads it; ``run_query`` builds a registry
query under one job group and counts it under another, and ``record``
reads that run back after the timed region.

``python -m form700_etl_spark.profile [--runs N] [--sf DIR] NAME...``
prints one JSON line per query: a cold record, N warm records and the
best wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

MB = 1024.0 * 1024.0
# Summed over a job's executed stages.  run_s includes GC and time spent
# interpreted; cpu_s is CPU only, so run_s >> cpu_s means stalls.
COUNTERS = ("tasks", "executor_run_s", "executor_cpu_s", "executor_gc_s", "shuffle_read_mb",
            "shuffle_write_mb", "mem_spill_mb", "disk_spill_mb", "input_mb")


def _opt(o):
    return o.get() if o.isDefined() else None


def _store(sc):
    jsc = sc._jsc.sc()  # noqa: SLF001 — the status store has no Python API
    jsc.listenerBus().waitUntilEmpty()  # every ended job is in the store
    return jsc.statusStore()


def jobs(spark: SparkSession, group: str | None = None, after: int = -1) -> list[dict]:
    """The jobs of job group ``group`` (every job when None) with an id
    above ``after``, oldest first: id, name, group, description, the
    number of executed stages and their ``COUNTERS``."""
    sc = spark.sparkContext
    store = _store(sc)
    if group is not None:
        ids = [i for i in sc.statusTracker().getJobIdsForGroup(group) if i > after]
    else:
        ids, it = [], store.jobsList(None).iterator()  # newest first
        while it.hasNext() and (i := it.next().jobId()) > after:
            ids.append(i)
    return _read(sc, store, ids)


def _read(sc, store, ids) -> list[dict]:
    """A stage is credited to the first job read that lists it; skipped
    stages count nothing."""
    gw = sc._gateway  # noqa: SLF001
    no_tasks, no_quantiles = gw.jvm.java.util.ArrayList(), gw.new_array(gw.jvm.double, 0)
    seen: set[int] = set()
    out = []
    for job_id in sorted(ids):
        j = store.job(job_id)
        rec = {"job": job_id, "name": j.name(), "group": _opt(j.jobGroup()),
               "description": _opt(j.description()), "stages": 0, **dict.fromkeys(COUNTERS, 0.0)}
        sids = j.stageIds()
        for sid in (sids.apply(k) for k in range(sids.size())):
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
            for s in (attempts.apply(a) for a in range(attempts.size())):
                if str(s.status()) == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                rec["executor_run_s"] += s.executorRunTime() / 1e3
                rec["executor_cpu_s"] += s.executorCpuTime() / 1e9
                rec["executor_gc_s"] += s.jvmGcTime() / 1e3
                rec["shuffle_read_mb"] += s.shuffleReadBytes() / MB
                rec["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                rec["mem_spill_mb"] += s.memoryBytesSpilled() / MB
                rec["disk_spill_mb"] += s.diskBytesSpilled() / MB
                rec["input_mb"] += s.inputBytes() / MB
        out.append(rec)
    return out


def last_job_id(spark: SparkSession) -> int:
    """The newest job's id (-1 before any): ``jobs(spark, after=id)``
    read after a call then lists the jobs the call launched."""
    it = _store(spark.sparkContext).jobsList(None).iterator()
    return it.next().jobId() if it.hasNext() else -1


def totals(js: list[dict]) -> dict[str, float]:
    return {k: sum(j[k] for j in js) for k in COUNTERS}


@dataclass
class QueryRun:
    name: str
    group: str  # the build ran under "<group>:build", the count under "<group>:exec"
    build_s: float
    exec_s: float
    counted: DataFrame  # the count's Dataset, whose tracker holds its Catalyst phases


def run_query(spark: SparkSession, name: str, sf_dir: str) -> QueryRun:
    """Build registry query ``name`` and count it, each timed under its
    own job group; reads nothing from the status store.  The count is
    ``df.groupBy().count().collect()``, the plan ``DataFrame.count()``
    runs.  The caller's job group and description come back afterwards."""
    from .registry import all_queries

    fn, sc = all_queries()[name].fn, spark.sparkContext
    group = f"profile:{uuid.uuid4().hex[:12]}:{name}"  # unique in the session
    prev = {k: sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description")}
    try:
        sc.setJobGroup(f"{group}:build", f"build {name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{group}:exec", f"count {name}")
        (counted := df.groupBy().count()).collect()
        t2 = time.perf_counter()
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    return QueryRun(name, group, t1 - t0, t2 - t1, counted)


def record(spark: SparkSession, run: QueryRun) -> dict:
    """``run``'s build and exec seconds, the count's Catalyst (analysis,
    optimization and planning) seconds, its build jobs (a
    materialization's carry ``materialize: <reason>``), its exec jobs and
    their summed ``COUNTERS``."""
    phases = run.counted._jdf.queryExecution().tracker().phases()  # noqa: SLF001 — no Python API
    found = (_opt(phases.get(p)) for p in ("analysis", "optimization", "planning"))
    sc = spark.sparkContext
    store = _store(sc)
    build_ids = set(sc.statusTracker().getJobIdsForGroup(f"{run.group}:build"))
    exec_ids = sc.statusTracker().getJobIdsForGroup(f"{run.group}:exec")
    js = _read(sc, store, build_ids.union(exec_ids))  # one read: a shared stage counts once
    return {
        "query": run.name,
        "build_s": run.build_s,
        "exec_s": run.exec_s,
        "catalyst_s": sum(p.durationMs() for p in found if p is not None) / 1e3,
        "build_jobs": [j for j in js if j["job"] in build_ids],
        "exec_jobs": [j for j in js if j["job"] not in build_ids],
        "totals": totals(js),
    }


def main() -> None:
    from .io import DEFAULT_SF_DIR
    from .session import get_spark

    ap = argparse.ArgumentParser(prog="python -m form700_etl_spark.profile")
    ap.add_argument("--runs", type=int, default=2, help="warm runs after the cold one")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR, help="fixture directory")
    ap.add_argument("names", nargs="+", metavar="NAME", help="registry query names")
    args = ap.parse_args()
    spark = get_spark("profile")
    for name in args.names:
        cold = record(spark, run_query(spark, name, args.sf))
        runs = [run_query(spark, name, args.sf) for _ in range(args.runs)]
        recs = [record(spark, r) for r in runs]
        best = min(r["build_s"] + r["exec_s"] for r in recs or [cold])
        print(json.dumps({"query": name, "sf": args.sf, "cold": cold, "runs": recs,
                          "best_s": round(best, 4), "load1": os.getloadavg()[0]}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

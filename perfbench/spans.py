"""Spans around the calls the benchmark makes into the engine's layers.

A span records its name, start, end, parent and run id, plus the operation
(``op``) of the workload it belongs to.  Spans live in memory and are written
out once, when the run ends.  While a span is open its Spark job group is set
(``setJobGroup``), so every job a call launches is attributed to the span that
launched it; jobs that carry a foreign group (a streaming query sets its own
run id as the group) go to the innermost span whose interval holds their
submission time.  Job, stage and task counters are read from Spark's status
store after the run, once the listener bus has drained, so the measured calls
pay only for two local-property updates and two ``/proc`` reads each: a span
also records the CPU seconds the process tree spent while it was open.

``NullTracer`` stands in when tracing is off: end-to-end metrics come only from
untraced runs.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass

MB = 1024.0 * 1024.0
EXEC_FIELDS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
)


@dataclass
class Span:
    sid: int
    name: str
    start: float  # seconds since the epoch
    end: float
    parent: int | None
    run: str
    op: str | None
    cpu: float = 0.0  # CPU seconds of the process tree while the span was open

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False
    overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        yield

    def record(self, name: str, start: float, end: float, cpu: float = 0.0) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time spent inside the tracer's own bookkeeping

    def record(self, name: str, start: float, end: float, cpu: float = 0.0) -> None:
        """A top-level span for a call made before the tracer existed."""
        self.spans.append(Span(len(self.spans), name, start, end, None, self.run_id, None, cpu))

    def _group(self, sid: int) -> str:
        return f"{self.run_id}:{sid}"

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(
            sid=len(self.spans),
            name=name,
            start=0.0,
            end=0.0,
            parent=parent.sid if parent else None,
            run=self.run_id,
            op=op if op is not None else (parent.op if parent else None),
        )
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(self._group(span.sid), name)
        cpu0 = tree_cpu_s()
        span.start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            span.end = time.time()
            t1 = time.perf_counter()
            span.cpu = tree_cpu_s() - cpu0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent.sid), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    # ------------------------------------------------------------ after the run

    def collect_jobs(self) -> list[dict]:
        """Every job and its executed stages from the status store, each job
        tagged with the span it belongs to.  Call after the measured region."""
        jsc = self.sc._jsc.sc()  # noqa: SLF001 — the status store has no Python API
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway  # noqa: SLF001
        stages = {}
        it = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                             gw.jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            s = it.next()
            if str(s.status()) == "SKIPPED":
                continue
            stages[(s.stageId(), s.attemptId())] = {
                "stage": s.stageId(),
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "executor_run_s": s.executorRunTime() / 1e3,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                "spill_mb": s.diskBytesSpilled() / MB,
                "input_mb": s.inputBytes() / MB,
            }
        by_stage: dict[int, list[dict]] = {}
        for st in stages.values():
            by_stage.setdefault(st["stage"], []).append(st)
        groups = {self._group(s.sid): s for s in self.spans}
        claimed: set[int] = set()
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            done = j.completionTime()
            t_sub = sub.get().getTime() / 1e3 if sub.isDefined() else None
            t_done = done.get().getTime() / 1e3 if done.isDefined() else t_sub
            grp = j.jobGroup()
            grp = grp.get() if grp.isDefined() else None
            span = groups.get(grp) or self._innermost_at(t_sub)
            ids = j.stageIds()
            own = []
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in by_stage and sid not in claimed:
                    claimed.add(sid)
                    own.extend(by_stage[sid])
            jobs.append({"job": j.jobId(), "name": j.name(), "start": t_sub, "end": t_done,
                         "span": span.sid if span else None, "stages": own})
        jobs.sort(key=lambda x: x["job"])
        self.jobs = jobs
        return jobs

    def _innermost_at(self, t: float | None) -> Span | None:
        if t is None:
            return None
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], "jobs": self.jobs}, fh)


# CPU seconds each JIT compiler thread had when last seen, by thread id.  The
# JVM starts and stops compiler threads as its queue grows and drains.
_JIT_SEEN: dict[str, float] = {}


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants --
    the Spark JVM and Spark's Python workers, reaped children included -- less
    the JVM's JIT compiler threads, read from /proc.

    A warm JVM keeps compiling: its compiler threads took 24-29% of a warm
    pass's CPU, in amounts that follow the JVM's compile queue rather than
    the work the pass did.  CPU seconds also do not stretch with the time
    other tenants of a shared host take.  A compiler thread's CPU counts from
    its first sighting to its last; the JVM stops one only once it is idle."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:  # the process exited while we listed /proc
            continue
        fields = tail.split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
        comm[pid] = head.split("(", 1)[1]
    total, todo = 0.0, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        if comm.get(pid) == "java":
            _see_jit_threads(pid, tick)
        todo.extend(children.get(pid, []))
    return total - sum(_JIT_SEEN.values())


def _see_jit_threads(pid: int, tick: int) -> None:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in head:  # "C1 CompilerThre", "C2 CompilerThre" (15-char names)
            fields = tail.split()
            _JIT_SEEN[f"{pid}/{tid}"] = (int(fields[11]) + int(fields[12])) / tick


# ------------------------------------------------------------------ analysis


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {s.sid: s.dur - _covered(s, children.get(s.sid, [])) for s in spans}


def _covered(span: Span, kids: list[Span]) -> float:
    ivs = sorted((max(k.start, span.start), min(k.end, span.end)) for k in kids)
    return _union_len(ivs)


def _union_len(ivs) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def descendants(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out


def exec_counters(jobs: list[dict], window: tuple[float, float]) -> dict:
    """Spark execution counters over ``jobs``; ``driver_s`` is the part of
    ``window`` during which none of them ran."""
    out = dict.fromkeys(EXEC_FIELDS, 0.0)
    out["jobs"] = len(jobs)
    for j in jobs:
        for st in j["stages"]:
            for k in EXEC_FIELDS[1:]:
                out[k] += st[k]
    lo, hi = window
    busy = _union_len(sorted((max(j["start"], lo), min(j["end"], hi))
                             for j in jobs if j["start"] is not None))
    out["driver_s"] = (hi - lo) - busy
    return out


def median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0

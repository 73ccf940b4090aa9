"""Smoke self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload named in BENCHMARK.json once, briefly (``--seconds 0``:
the warm-up pass and the two timed passes over the sf0.001 tables), untraced
and traced, and fails unless each run exits 0, reports ``correct``, and prints
every metric BENCHMARK.json names for that mode, with its unit.  Takes a few
minutes: each run starts its own SparkSession.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = spec["command"] + ["--workload", workload, "--seed", "1", "--seconds", "0",
                             "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") or result.get("attempted", 0) < 1:
        problems.append(f"{where}: correct={result.get('correct')} "
                        f"failed={result.get('failed')} attempted={result.get('attempted')}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = result.get("metrics", {})
    for m in wanted:
        entry = got.get(m["name"])
        if entry is None or entry.get("unit") != m["unit"] or not isinstance(
                entry.get("value"), (int, float)):
            problems.append(f"{where}: metric {m['name']} [{m['unit']}] printed as {entry}")
    if set(got) - {m["name"] for m in wanted}:
        problems.append(f"{where}: unlisted metrics {sorted(set(got) - {m['name'] for m in wanted})}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            found = check(w["name"], trace, spec)
            print(f"{w['name']} --trace {trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

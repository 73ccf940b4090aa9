"""Locks the driver-sample ordering in __spark_entry__ (rotation v2).

Round 11 drained the never-sampled pool, so the old "never-sampled
first" comparator degenerated to registration order and the driver
would have re-checked the same 50-query prefix forever.  Rotation v2
orders by (1) QUEUE_REVERIFY.txt post-fix priority, (2) last-sampled
driver round ascending, tie-broken by registration order.  These tests
exercise the pure helpers against synthetic artifacts AND assert the
real repo state yields the intended round-12 sample.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _load_adapter():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


adapter = _load_adapter()


# ---------------------------------------------------------------- synthetic


def _write_artifacts(tmp_path, samples: dict[int, list[str]]):
    for rnd, names in samples.items():
        payload = {n: {"hash_match": True} for n in names}
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(payload))


def test_lrs_orders_by_last_round_then_registration(tmp_path):
    _write_artifacts(tmp_path, {1: ["a", "c"], 2: ["c", "d"]})
    last = adapter._last_sampled_rounds(str(tmp_path))
    assert last == {"a": 1, "c": 2, "d": 2}
    # registration order: b never sampled (round 0) -> first; then a (r1);
    # then c,d (r2) in registration order.
    assert adapter._least_recently_sampled_first(
        ["a", "b", "c", "d"], here=str(tmp_path)
    ) == ["b", "a", "c", "d"]


def test_reverify_priority_is_self_clearing(tmp_path):
    _write_artifacts(tmp_path, {10: ["x"], 12: ["y"]})
    (tmp_path / "QUEUE_REVERIFY.txt").write_text("x\t11\ny\t11\nzzz not-an-int\n")
    last = adapter._last_sampled_rounds(str(tmp_path))
    # x last sampled r10 <= fixed_round 11 -> still awaiting re-verify;
    # y last sampled r12 > 11 -> priority cleared; malformed line ignored.
    assert adapter._reverify_priority(str(tmp_path), last) == ["x"]


def test_priority_names_lead_and_rest_stay_lrs(tmp_path):
    _write_artifacts(tmp_path, {5: ["p", "q"], 9: ["r"]})
    (tmp_path / "QUEUE_REVERIFY.txt").write_text("r\t9\nmissing\t9\n")
    # r has priority (fixed in r9, last sampled r9 -> still <= fixed_round);
    # "missing" is not registered and must be dropped; p,q follow by LRS.
    assert adapter._least_recently_sampled_first(
        ["p", "q", "r"], here=str(tmp_path)
    ) == ["r", "p", "q"]


def test_duplicate_queue_lines_take_one_sample_slot(tmp_path):
    """A name queued on several pending lines is prioritized once, at
    its first position, even when more than 50 names are pending."""
    pending = [f"q{i:02d}" for i in range(55)]
    lines = [f"{n}\t9" for n in pending]
    lines.insert(3, "q40\t8")  # an earlier-round line for a later name
    lines.append("q01\t9")  # a repeat of an already queued name
    (tmp_path / "QUEUE_REVERIFY.txt").write_text("\n".join(lines) + "\n")
    prio = adapter._reverify_priority(str(tmp_path), {})
    assert prio == pending[:3] + ["q40"] + pending[3:40] + pending[41:]
    names = adapter._least_recently_sampled_first(
        pending + ["old", "new"], here=str(tmp_path)
    )
    assert len(names) == len(set(names)) == 57
    assert names[:50] == prio[:50]


# ------------------------------------------------------------- real repo


def test_next_sample_leads_with_reverify_queue_then_stalest():
    """Whatever the CURRENT repo artifacts say, the next driver sample
    must lead with the still-pending QUEUE_REVERIFY names (in file
    order) and follow with the registry's least-recently-sampled names.
    Expectations are derived from _reverify_priority()/_last_sampled_rounds
    at runtime so committing a new CORRECTNESS_r{n}.json (which self-clears
    satisfied priorities) cannot break the test."""
    if not os.path.exists(os.path.join(REPO, "CORRECTNESS_r11.json")):
        pytest.skip("driver artifacts not present")
    sys.path.insert(0, REPO)
    from form700_etl_spark.registry import oracle_sqls

    registered = list(oracle_sqls())
    names = adapter._least_recently_sampled_first(registered)
    last = adapter._last_sampled_rounds(REPO)
    expected_prio = [
        n for n in adapter._reverify_priority(REPO, last) if n in set(registered)
    ]
    assert names[: len(expected_prio)] == expected_prio
    k = len(expected_prio)
    tail_rounds = [last.get(n, 0) for n in names[k:50]]
    # the rest of the 50-sample is strictly the stalest of the registry
    rest_sorted = sorted(last.get(n, 0) for n in names[k:])
    assert tail_rounds == rest_sorted[: max(0, 50 - k)]

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual surface lives in :mod:`form700_etl_spark` — this module is
a thin adapter over its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make the import robust to
# whatever cwd the harness driver uses
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from form700_etl_spark.io import SMOKE_SF_DIR
from form700_etl_spark.registry import oracle_sqls, spark_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from form700_etl_spark.queries.relational import flagship_mktsegment_revenue

    return flagship_mktsegment_revenue(spark, SMOKE_SF_DIR)


def _last_sampled_rounds(here: str) -> dict[str, int]:
    """name -> latest driver round that sampled it (from committed
    CORRECTNESS_r*.json artifacts); absent names were never sampled."""
    import glob
    import json
    import re

    last: dict[str, int] = {}
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(f) as fh:
                for n in json.load(fh):
                    last[n] = max(last.get(n, 0), rnd)
        except Exception:  # noqa: BLE001 — artifact files are advisory
            continue
    return last


def _reverify_priority(here: str, last: dict[str, int]) -> list[str]:
    """Names from QUEUE_REVERIFY.txt still awaiting a post-fix driver
    sample.  Each line is ``<name><TAB><fixed_round>``: the query's
    implementation or oracle changed during round ``fixed_round`` AFTER
    its most recent driver sample.  Priority is self-clearing — once the
    driver samples the name in a round >= fixed_round + 1, the committed
    CORRECTNESS artifact raises its last-sampled round past
    ``fixed_round`` and the entry stops matching (stale lines are inert,
    so the file never needs emergency edits between rounds).  A name
    with several pending lines is returned once, at its first position,
    so it takes one sample slot.
    """
    out: dict[str, None] = {}
    try:
        with open(os.path.join(here, "QUEUE_REVERIFY.txt")) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) != 2 or not parts[1].isdigit():
                    continue
                name, fixed_round = parts[0], int(parts[1])
                if last.get(name, 0) <= fixed_round:
                    out.setdefault(name)
    except OSError:
        pass
    return list(out)


def _least_recently_sampled_first(names, here: str | None = None) -> list[str]:
    """Order query names for the driver's 50-query correctness sample.

    Rotation v2 (round 12): the never-sampled pool drained to zero in
    round 11, so "never-sampled first" degenerated to registration order
    and the driver would re-check the same 50-name prefix forever.  The
    new ordering is:

    1. QUEUE_REVERIFY.txt names fixed after their last driver sample,
       in file order — the first 50 pending names get driver
       re-verification the very next round; a name past slot 50 waits
       one round for each 50 pending names ahead of it, in file order;
    2. everything else by last-sampled round ASCENDING (never-sampled
       queries sort first at round 0, preserving the old guarantee for
       newly registered queries), tie-broken by registration order.

    With a 355-query registry and a 50-query sample this re-cycles every
    query through the driver roughly every 7 rounds.
    """
    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    last = _last_sampled_rounds(here)
    names = list(names)
    reg_index = {n: i for i, n in enumerate(names)}
    prio = [n for n in _reverify_priority(here, last) if n in reg_index]
    prio_set = set(prio)
    rest = sorted(
        (n for n in names if n not in prio_set),
        key=lambda n: (last.get(n, 0), reg_index[n]),
    )
    return prio + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = spark_queries()
    return {n: qs[n] for n in _least_recently_sampled_first(qs)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    os_ = oracle_sqls()
    return {n: os_[n] for n in _least_recently_sampled_first(os_)}

"""Streaming near-duplicate detection — the batch banded-SimHash
discipline applied to a document FEED (VERDICT r13 growth item).

An ingestion pipeline sees documents arrive continuously and wants
near-dup pairs (or drop decisions) ONLINE, without re-running the batch
self-join per batch.  The standard shape (same as batch
``dedup_simhash_hamming``, queries/dedup.py): 64-bit SimHash split into
4 x 16-bit bands; by pigeonhole, any pair within Hamming distance 3
shares at least one band exactly, so band-equality blocking is COMPLETE
for the radius.  Streaming twist: each band bucket keeps its members in
**keyed state** (``applyInPandasWithState`` grouped by (band, value) —
RocksDB-backed on a real cluster), and every incoming document is
verified only against its own buckets' members — the index-probe shape,
never a corpus self-join.

On a static fixture replayed in micro-batches the emitted pair set is
EXACTLY the batch query's result (arrival order only changes when a
pair is emitted, not whether), so the streaming operator gets the same
DuckDB oracle — the strongest check a streaming op can have.

State growth is the honest cost: buckets accumulate all seen members,
exactly like the batch join's blocks.  A production deployment bounds
it with a TTL/watermark on bucket members (dedup against a sliding
corpus window) — the cap is deliberately NOT applied here because it
would break the completeness contract the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import HAMMING_RADIUS, hamming64_bands
from .events_stream import replay_stream, run_to_completion


def _lowest_shared_band(lo1: int, hi1: int, lo2: int, hi2: int) -> int:
    """First band index where the two signatures agree, -1 if none —
    the same first-match-only discipline the batch plan uses so a pair
    sharing several bands is emitted exactly once."""
    b1 = (lo1 & 0xFFFF, lo1 >> 16, hi1 & 0xFFFF, hi1 >> 16)
    b2 = (lo2 & 0xFFFF, lo2 >> 16, hi2 & 0xFFFF, hi2 >> 16)
    for i in range(4):
        if b1[i] == b2[i]:
            return i
    return -1


def _make_update(window_batches: int | None):
    """Build the per-bucket stateful update closure.

    ``window_batches=None`` keeps every member forever (the
    completeness-contract variant the batch oracle checks verbatim).
    With an integer W, a member is verified against — and retained
    for — arrivals of the W following batches only: on each arrival
    batch ``cur``, members with ``batch < cur - W`` are EVICTED before
    verification, so bucket state holds at most the members of the
    last W+1 batches (the sliding-corpus-window dedup a production
    feed runs).  Eviction is probe-time (a bucket with no arrivals
    keeps its last window until next touched — bounded by its own
    last-active window; idle-bucket GC would be a state TTL on a real
    deployment).  Exposed at module level so tests can drive it with a
    fake GroupState and assert the eviction bound directly."""
    import pandas as pd

    def update(key, pdfs, state):
        b = int(key[0])
        if state.exists:
            docs, los, his, bats = (list(x) for x in state.get)
        else:
            docs, los, his, bats = [], [], [], []
        arrivals = []
        cur_batch = None
        for pdf in pdfs:
            arrivals.extend(
                (int(d), int(lo), int(hi), int(ab))
                for d, lo, hi, ab in zip(
                    pdf["doc_id"],
                    pdf["simhash_lo"],
                    pdf["simhash_hi"],
                    pdf["arrival_batch"],
                )
            )
        # one trigger = one replay file = one arrival batch, so every
        # arrival in this invocation shares the batch index
        if arrivals:
            cur_batch = max(a[3] for a in arrivals)
        if window_batches is not None and cur_batch is not None:
            keep = [
                i for i, bt in enumerate(bats) if bt >= cur_batch - window_batches
            ]
            if len(keep) < len(docs):
                docs = [docs[i] for i in keep]
                los = [los[i] for i in keep]
                his = [his[i] for i in keep]
                bats = [bats[i] for i in keep]
        # deterministic within-batch order; each pair is emitted
        # when its LATER-processed member sees the earlier one in
        # the members list
        arrivals.sort()
        out1, out2, outh = [], [], []
        for doc, lo, hi, ab in arrivals:
            for d2, l2, h2 in zip(docs, los, his):
                h = (lo ^ l2).bit_count() + (hi ^ h2).bit_count()
                if h <= HAMMING_RADIUS and _lowest_shared_band(lo, hi, l2, h2) == b:
                    a, c = (doc, d2) if doc < d2 else (d2, doc)
                    out1.append(a)
                    out2.append(c)
                    outh.append(h)
            docs.append(doc)
            los.append(lo)
            his.append(hi)
            bats.append(ab)
        state.update((docs, los, his, bats))
        if out1:
            yield pd.DataFrame({"doc1": out1, "doc2": out2, "hamming": outh})

    return update


def stream_simhash_near_dup(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    window_batches: int | None = None,
) -> DataFrame:
    """Near-dup pairs (doc1 < doc2, hamming <= 3) from a simulated
    document feed: signatures of the documents table are replayed in
    ``n_batches`` micro-batches (sliced by doc_id hash, slice i as
    micro-batch i through ``replay_stream``); a stateful operator keyed by
    (band, band_val) verifies each arrival against its bucket's state
    and appends it.  Emits each qualifying pair exactly once (at its
    lowest shared band, when its later member arrives).

    ``window_batches`` bounds bucket state to a sliding corpus window —
    see ``_make_update`` and ``stream_simhash_near_dup_windowed``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..queries.dedup import SIMHASH64, _simhash_sigs  # late import: no cycle

    sigs = _simhash_sigs(spark, sf_dir)
    slices = [
        sigs.filter(F.col("doc_id") % n_batches == i) for i in range(n_batches)
    ]
    with replay_stream(spark, slices) as raw:
        bands = raw.select(
            "doc_id",
            "simhash_lo",
            "simhash_hi",
            # arrival batch is the replay slice — deterministic, which
            # is what makes the windowed variant's oracle expressible
            (F.col("doc_id") % n_batches).alias("arrival_batch"),
            hamming64_bands(SIMHASH64).alias("bk"),
        ).select(
            "doc_id",
            "simhash_lo",
            "simhash_hi",
            "arrival_batch",
            F.col("bk.b").alias("b"),
            F.col("bk.band_val").alias("band_val"),
        )

        pairs = bands.groupBy("b", "band_val").applyInPandasWithState(
            _make_update(window_batches),
            outputStructType="doc1 long, doc2 long, hamming int",
            stateStructType=(
                "docs array<bigint>, los array<bigint>, his array<bigint>, "
                "bats array<bigint>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return run_to_completion(pairs, "append")[0]


#: replay batches / window used by the REGISTERED windowed query (and
#: its oracle — the pair filter abs(doc1% N - doc2% N) <= W must match)
WINDOWED_N_BATCHES = 4
WINDOWED_WINDOW = 1


def stream_simhash_near_dup_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TTL-bounded streaming near-dup: identical index-probe shape to
    ``stream_simhash_near_dup``, but each bucket retains only the last
    ``WINDOWED_WINDOW`` + 1 batches of members (sliding corpus window)
    — the state bound a production feed needs.  A pair is emitted iff
    its members' arrival batches are within the window; with the
    deterministic ``doc_id % n`` replay slicing that is exactly the
    batch pair set restricted to ``abs(doc1 % n - doc2 % n) <= W``, so
    this variant keeps a FULL value-hash DuckDB oracle rather than the
    weaker rows-only check.  The unbounded sibling stays registered as
    the completeness-contract anchor."""
    return stream_simhash_near_dup(
        spark,
        sf_dir,
        n_batches=WINDOWED_N_BATCHES,
        window_batches=WINDOWED_WINDOW,
    )

"""Content-defined chunking (CDC) — gear-hash chunk boundaries for
byte-level dedup of binary/file columns.

The reference (Form700.py) has no binary-dedup surface; this extends
the engine toward storage/training-corpus dedup at the sub-document
level, the technique behind dedup-aware blob stores and long-file
near-dup detection (FastCDC, Xia et al., USENIX ATC 2016; gear hash
from Ddelta, Xia et al. 2014).

Why content-defined: fixed-size chunking shatters on insertion — one
added byte shifts every later chunk boundary, so no downstream hash
matches.  A gear rolling hash depends only on the trailing 64 bytes,
so boundaries realign within one window of any edit and every chunk
after the edit region hashes identically (the locality law the tests
assert).

Spark shape: the whole pipeline is one ``io.map_records`` pass (one
document in, its chunks out; the per-byte work is vectorized numpy —
64 shifted adds per payload, no per-byte Python) producing (doc_id,
chunk_idx, chunk_len, chunk_hash) rows, then ordinary hash aggregation
on chunk_hash for dedup stats.  At 100 TB the chunk table is the shuffle-side object;
payload bytes never shuffle.

Determinism: the gear table derives from md5(byte value), boundaries
are pure integer arithmetic, chunk hashes are md5 — identical under
any partitioning or retry.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from ..io import map_records

_WINDOW = 64  # gear window: bits shift out after 64 steps
_MASK_BITS = 6  # boundary when (h & mask) == 0 -> expected 64-byte chunks

_GEAR = np.array(
    [
        int.from_bytes(hashlib.md5(bytes([b])).digest()[:8], "big")
        for b in range(256)
    ],
    dtype=np.uint64,
)

CHUNK_SCHEMA = "doc_id long, chunk_idx int, chunk_len int, chunk_hash string"


def gear_hashes(data: np.ndarray) -> np.ndarray:
    """Rolling gear hash h_i = sum_{k<64} gear[b_{i-k}] << k (mod 2^64)
    for every byte position — vectorized as 64 shifted adds over the
    whole array instead of a per-byte loop."""
    g = _GEAR[data]
    h = np.zeros(len(data), dtype=np.uint64)
    n = len(data)
    for k in range(min(_WINDOW, n)):
        h[k:] += g[: n - k] << np.uint64(k)
    return h


def chunk_bounds(data: bytes, mask_bits: int = _MASK_BITS) -> list[int]:
    """Boundary positions (exclusive ends) for content-defined chunks:
    every i where the rolling hash's low ``mask_bits`` bits are zero,
    plus the end of data.  No min/max cut — boundaries depend ONLY on
    the trailing 64 bytes, which is what makes the shift-locality law
    exact (production would layer FastCDC min/max normalization on
    top, trading a little locality for bounded chunk sizes)."""
    if not data:
        return []
    arr = np.frombuffer(data, dtype=np.uint8)
    h = gear_hashes(arr)
    mask = np.uint64((1 << mask_bits) - 1)
    cuts = np.nonzero((h & mask) == 0)[0] + 1
    bounds = cuts.tolist()
    if not bounds or bounds[-1] != len(data):
        bounds.append(len(data))
    return bounds


def cdc_chunk_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, chunk_idx, chunk_len, chunk_hash) — one row per
    content-defined chunk of the utf-8 payload."""

    def chunks(doc_id: int, text: str | None) -> list[tuple]:
        data = (text or "").encode("utf-8")
        rows, prev = [], 0
        for idx, end in enumerate(chunk_bounds(data)):
            chunk = data[prev:end]
            rows.append((doc_id, idx, len(chunk), hashlib.md5(chunk).hexdigest()))
            prev = end
        return rows

    return map_records(docs.select("doc_id", text_col), chunks, CHUNK_SCHEMA)

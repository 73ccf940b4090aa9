"""Laws for the DCT perceptual hash (operators/multimodal.py):
affine-luma invariance, discrimination, and band-join completeness vs
the brute-force pair set."""

from __future__ import annotations

import struct


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & (2**64 - 1)).count("1")


def test_affine_luma_invariance_and_discrimination():
    from form700_etl_spark.operators.multimodal import (
        bmp_phash64,
        perturb_bmp_bytes,
        synth_noise_bmp_bytes,
    )

    for key in range(6):
        buf = synth_noise_bmp_bytes(key)
        h = bmp_phash64(buf)
        # positive affine luma rescale: exactly affine would move at
        # most the DC bit; the uint8 rounding/clipping of a real edit
        # adds small coefficient noise, so allow the near-dup radius
        off = struct.unpack_from("<2sIHHI", buf, 0)[4]
        scaled = bytearray(buf)
        for i in range(off, len(scaled)):
            scaled[i] = min(255, int(scaled[i] * 0.7) + 10)
        assert _ham(h, bmp_phash64(bytes(scaled))) <= 3
        # mild pixel noise stays near; unrelated content is far
        assert _ham(h, bmp_phash64(perturb_bmp_bytes(buf))) <= 3
        assert _ham(h, bmp_phash64(synth_noise_bmp_bytes(key + 100))) > 10


def test_band_join_matches_bruteforce(spark, sf_dir):
    from form700_etl_spark.operators.multimodal import (
        bmp_phash64,
        image_phash,
        synthesize_dedup_images,
    )
    from form700_etl_spark.registry import all_queries

    imgs = synthesize_dedup_images(spark, sf_dir)
    pairs = (
        all_queries()["multimodal_image_phash_neardup"]
        .fn(spark, sf_dir)
        .collect()
    )
    got = {(r["doc1"], r["doc2"]): r["hamming"] for r in pairs}
    hashes = {
        r["doc_id"]: r["phash"] for r in image_phash(imgs).collect()
    }
    want = {}
    keys = sorted(hashes)
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            d = _ham(hashes[a], hashes[b])
            if d <= 3:
                want[(a, b)] = d
    assert got == want  # pigeonhole completeness at radius 3
    assert len(want) > 0  # injected dup groups are actually found

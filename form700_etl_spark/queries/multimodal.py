"""Multimodal-column queries (build plan M5).

Two kinds of operator (operators/multimodal.py):

- the image/video decode fake (codec libs absent here): sha256-derived
  dimensions and digests over the binary payload, computed in Spark SQL
  and DuckDB-oracle-checked (the oracle recomputes the same digests);
- codec-true WAV/BMP/y4m decodes and perceptual hashes in Arrow-batched
  ``mapInPandas``, law-tested, whose 64-bit hashes feed the one shared
  Hamming band join (``operators.dedup.hamming64_pairs``).
"""

from __future__ import annotations

from ..io import materialize
from ..operators.dedup import hamming64_pairs
from ..operators.multimodal import extract_features, sample_frames, synthesize_media
from ..registry import register

# hex-digit -> int in portable SQL (DuckDB has no hex-parse for VARCHAR)
def _hexval(expr: str) -> str:
    return f"(strpos('0123456789abcdef', {expr}) - 1)"


_B0 = f"({_hexval('substr(sha256(text), 1, 1)')} * 16 + {_hexval('substr(sha256(text), 2, 1)')})"
_B1 = f"({_hexval('substr(sha256(text), 3, 1)')} * 16 + {_hexval('substr(sha256(text), 4, 1)')})"


@register(
    "multimodal_feature_extract",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           substr(sha256(text), 1, 16) AS sha_prefix,
           CAST(64 + {_B0} % 64 AS INT) AS fake_width,
           CAST(64 + {_B1} % 64 AS INT) AS fake_height,
           'fake-sha256' AS decoder
    FROM documents
    """,
    tags=("multimodal",),
    doc=(
        "binary payload -> Spark SQL feature extraction (decode stubbed as "
        "deterministic sha256 dims via sha2/conv); oracle recomputes the "
        "digests in SQL."
    ),
)
def multimodal_feature_extract(spark, sf_dir):
    return extract_features(synthesize_media(spark, sf_dir))


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(1 + doc_id % 4)) AS INT) AS frame_index,
           CAST(unnest(range(1 + doc_id % 4)) AS DOUBLE) * 2.0 AS frame_ts_s
    FROM documents
    WHERE doc_id % 3 = 2
    """,
    tags=("multimodal",),
    doc="video row -> N frame rows via explode(sequence(...)) (media UDTF pattern).",
)
def multimodal_frame_sample(spark, sf_dir):
    frames = sample_frames(synthesize_media(spark, sf_dir))
    # the oracle has no frame_sha (no blob sha in its SQL), so it is
    # projected away, and Catalyst never computes it; the digest is
    # covered by tests/test_functions.py
    return frames.select("doc_id", "frame_index", "frame_ts_s")


@register(
    "multimodal_resize_audit",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id, text,
               CAST(64 + {_B0} % 64 AS INT) AS in_w,
               CAST(64 + {_B1} % 64 AS INT) AS in_h
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, 'image' AS media_type,
           in_w AS in_width, in_h AS in_height,
           CAST(CASE WHEN in_w * 64 >= in_h * 96 THEN 96
                     ELSE in_w * 64 // in_h END AS INT) AS out_width,
           CAST(CASE WHEN in_w * 64 >= in_h * 96 THEN in_h * 96 // in_w
                     ELSE 64 END AS INT) AS out_height,
           substr(sha256(text ||
               CAST(CASE WHEN in_w * 64 >= in_h * 96 THEN 96
                         ELSE in_w * 64 // in_h END AS VARCHAR) || 'x' ||
               CAST(CASE WHEN in_w * 64 >= in_h * 96 THEN in_h * 96 // in_w
                         ELSE 64 END AS VARCHAR)), 1, 16) AS resized_sha
    FROM dims
    """,
    tags=("multimodal",),
    doc=(
        "Aspect-preserving resize of every image payload into 96x64: "
        "the fit arithmetic is pure integers (cross-multiplied "
        "comparison + integer division) so the Spark SQL operator and "
        "the DuckDB oracle agree exactly; decode stays the documented "
        "sha256 fake, re-encode stands in as a digest of (payload, out "
        "dims)."
    ),
)
def multimodal_resize_audit(spark, sf_dir):
    from ..operators.multimodal import resize_media

    return resize_media(synthesize_media(spark, sf_dir))


@register(
    "multimodal_audio_decode",
    oracle=None,  # a real binary container decode has no SQL analog;
    # tests/test_functions.py::TestAudioDecode recomputes every feature
    # locally from the same synth and checks sample-exact equality.
    tags=("multimodal", "audio"),
    doc=(
        "REAL audio decode (not a stub): deterministic PCM16 WAV "
        "payloads parsed with the stdlib wave module inside an Arrow-"
        "batched mapInPandas — sample rate, channel count, duration, "
        "integer-exact squared-sample RMS (e3-quantized) and peak come "
        "from the decoded frames.  The pattern for codec-true feature "
        "extraction at 100 TB: payload bytes never leave the executor, "
        "decode is embarrassingly parallel, features are tiny rows."
    ),
)
def multimodal_audio_decode(spark, sf_dir):
    from ..operators.multimodal import decode_audio_features, synthesize_audio

    return decode_audio_features(synthesize_audio(spark, sf_dir))


@register(
    "multimodal_image_decode",
    oracle=None,  # real container parse; law tests recompute locally
    tags=("multimodal", "image"),
    doc=(
        "REAL image decode (not a stub): deterministic 24-bit BMP "
        "payloads parsed with stdlib struct inside Arrow-batched "
        "mapInPandas — header-declared dims, bits-per-pixel, and exact "
        "integer channel sums (e3-quantized means) from the padded "
        "bottom-up pixel rows.  With WAV (audio) and y4m (video), every "
        "modality now has a codec-true path; the sha256 fake remains "
        "only for formats whose codecs are genuinely absent here."
    ),
)
def multimodal_image_decode(spark, sf_dir):
    from ..operators.multimodal import decode_bmp_features, synthesize_images

    return decode_bmp_features(synthesize_images(spark, sf_dir))


@register(
    "multimodal_video_frames_real",
    oracle=None,  # real container parse; law tests recompute locally
    tags=("multimodal", "video"),
    doc=(
        "REAL video frame sampling: deterministic YUV4MPEG2 (y4m) clips "
        "— the ffmpeg/mplayer raw interchange format — parsed with pure "
        "Python: stream-header W/H/C tokens, FRAME markers walked, one "
        "row per frame with its exact-integer-sum luma mean.  The 1->N "
        "media-UDTF pattern over an actual container (contrast "
        "multimodal_frame_sample, whose digest fake exists for its SQL "
        "oracle)."
    ),
)
def multimodal_video_frames_real(spark, sf_dir):
    from ..operators.multimodal import decode_y4m_frames, synthesize_videos

    return decode_y4m_frames(synthesize_videos(spark, sf_dir))


@register(
    "multimodal_image_dhash_neardup",
    oracle=None,  # binary container decode has no SQL analog; the law
    # tests recompute dHash locally and brute-force the pair set
    tags=("multimodal", "image", "dedup"),
    doc=(
        "Perceptual image near-dedup: dHash (64-bit horizontal-"
        "gradient difference hash, Krawetz 2013) computed during the "
        "Arrow-batched BMP decode, then the SAME 4x16-bit band "
        "machinery as dedup_simhash_hamming finds all pairs within "
        "Hamming 3 (pigeonhole-complete) ENTIRELY JVM-side: band "
        "explode, hash self-join on the band key, bit_count(xor) "
        "verify.  The corpus injects exact-dup groups (content key = "
        "doc_id div 3) and perturbed near-dup variants (measured "
        "<= 1 bit moved vs >= 22 bits between unrelated keys), so the "
        "operator's recall is testable (group size is constant, so "
        "pair volume is linear in corpus size).  Python touches each payload "
        "exactly once; candidate generation never leaves the JVM — "
        "the image-dedup shape for a 100 TB multimodal corpus."
    ),
)
def multimodal_image_dhash_neardup(spark, sf_dir):
    from ..operators.multimodal import image_dhash, synthesize_dedup_images

    hashes = materialize(
        image_dhash(synthesize_dedup_images(spark, sf_dir)),
        "multimodal_image_dhash_neardup hashes: both band-join sides",
    )
    return hamming64_pairs(hashes, "dhash")


@register(
    "multimodal_audio_fp_neardup",
    oracle=None,  # binary container decode; brute-force-equality law test
    tags=("multimodal", "audio", "dedup"),
    doc=(
        "Perceptual audio near-dedup: a 64-bit energy-difference "
        "fingerprint (the 1-D dHash — 65 exact integer window energies "
        "from the decoded PCM, one bit per adjacent comparison, "
        "volume-scale invariant because only the energy ORDER matters) "
        "computed during the Arrow-batched WAV decode, then the same "
        "4x16-bit band machinery as the image/text paths finds all "
        "pairs within Hamming 3 JVM-side.  Completes the near-dup "
        "family across modalities: text (MinHash/SimHash), image "
        "(dHash), audio (energy fp) — one banding discipline, three "
        "codecs.  Injected dup groups (doc_id div 3) + volume-scaled "
        "variants (measured Hamming 0) make recall testable."
    ),
)
def multimodal_audio_fp_neardup(spark, sf_dir):
    from ..operators.multimodal import audio_fingerprints, synthesize_dedup_audio

    hashes = materialize(
        audio_fingerprints(synthesize_dedup_audio(spark, sf_dir)),
        "multimodal_audio_fp_neardup fingerprints: both band-join sides",
    )
    return hamming64_pairs(hashes, "afp")


@register(
    "multimodal_image_phash_neardup",
    oracle=None,  # binary container decode has no SQL analog; the law
    # tests recompute pHash locally, assert affine-luma invariance, and
    # brute-force the pair set
    tags=("multimodal", "image", "dedup"),
    doc=(
        "Perceptual image near-dedup, DCT edition: pHash (64-bit "
        "low-frequency DCT signature, median-thresholded so an exact "
        "positive affine luma rescale flips at most the DC bit (uint8 "
        "rounding of a real edit adds a couple more, law-tested <= 3) — "
        "robust to brightness/contrast edits that move MANY dHash "
        "gradient bits) computed during the Arrow-batched BMP decode, "
        "then the same 4x16-bit band machinery as the "
        "dHash/SimHash/audio paths finds all pairs within Hamming 3 "
        "JVM-side.  Same injected dup structure as "
        "multimodal_image_dhash_neardup, so the two operators' pair "
        "sets are directly comparable (the dedup family's "
        "frequency-domain vs gradient-domain tradeoff, both "
        "law-tested)."
    ),
)
def multimodal_image_phash_neardup(spark, sf_dir):
    from ..operators.multimodal import image_phash, synthesize_dedup_images

    hashes = materialize(
        image_phash(synthesize_dedup_images(spark, sf_dir)),
        "multimodal_image_phash_neardup hashes: both band-join sides",
    )
    return hamming64_pairs(hashes, "phash")

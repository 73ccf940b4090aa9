"""Multimodal-column plumbing (build plan M5 / north-star mandate).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata.  The real codec libraries (PIL, ffmpeg, torchaudio) are NOT
in this container, so for image and video the decode step is a
clearly-marked deterministic fake: pseudo-dimensions and frame/resize
digests derived from the payload's sha256.  The fake is plain Spark SQL
(``sha2``, ``conv``, integer ``div``, ``explode(sequence(...))``), so
Catalyst sees through it and prunes what a query does not read.

Python runs only where decoding is the point: the codec-true WAV, BMP
and y4m parsers and the perceptual hashes (dHash, pHash, the audio
energy fingerprint), each a per-record ``io.map_records`` operator.

Scale notes: payload bytes travel executor-side only (never collected);
feature extraction is embarrassingly parallel over partitions; frame
sampling is a generator (1 row → N), the UDTF pattern for media
expansion.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fan_out, map_records, table

FRAME_EVERY_S = 2.0  # seconds between sampled video frames
RESIZE_W, RESIZE_H = 96, 64  # the box every image is fitted into


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text encoded as a binary payload column + typed metadata
    — the multimodal table shape (payloads stay opaque bytes)."""
    d = table(spark, sf_dir, "documents")
    mtype = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        mtype.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.length(payload).cast("long").alias("n_bytes"),
            mtype.alias("declared_type"),
        ).alias("meta"),
    )


def _fake_decode(media: DataFrame) -> DataFrame:
    """``media`` plus the decode fake: ``sha`` (the payload's sha256 hex)
    and ``fake_width``/``fake_height`` in 64..127, from its first two
    bytes."""
    return media.selectExpr("*", "sha2(payload, 256) AS sha").selectExpr(
        "*",
        "64 + CAST(conv(substr(sha, 1, 2), 16, 10) AS INT) % 64 AS fake_width",
        "64 + CAST(conv(substr(sha, 3, 2), 16, 10) AS INT) % 64 AS fake_height",
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract per payload with the deterministic
    sha256 fake (dimensions are derived from the digest so results are
    stable and oracle-checkable)."""
    return _fake_decode(media).selectExpr(
        "doc_id",
        "media_type",
        "CAST(length(payload) AS BIGINT) AS n_bytes",
        "substr(sha, 1, 16) AS sha_prefix",
        "fake_width",
        "fake_height",
        "'fake-sha256' AS decoder",
    )


def sample_frames(media: DataFrame) -> DataFrame:
    """1 video row → N frame rows (N = 1 + doc_id % 4), one every
    FRAME_EVERY_S seconds: the media-UDTF pattern.  Frame 'decode' is
    stubbed as a digest of (payload, frame index)."""
    return (
        media.filter("media_type = 'video'")
        .selectExpr(
            "doc_id", "payload", "explode(sequence(0, CAST(doc_id % 4 AS INT))) AS frame_index"
        )
        .selectExpr(
            "doc_id",
            "frame_index",
            f"CAST(frame_index AS DOUBLE) * {FRAME_EVERY_S} AS frame_ts_s",
            "substr(sha2(concat(payload, encode(CAST(frame_index AS STRING), 'UTF-8')), 256),"
            " 1, 16) AS frame_sha",
        )
    )


def resize_media(media: DataFrame) -> DataFrame:
    """Aspect-preserving fit of every image payload into (RESIZE_W,
    RESIZE_H).  The decode is the same deterministic sha256 fake as
    extract_features; the FIT ARITHMETIC is the real operator — pure
    integers (cross-multiplication comparison + integer division), so
    both engines agree exactly — and the 'resized payload' is a digest
    of (payload, out dims), standing in for re-encoded bytes."""
    width_bound = f"fake_width * {RESIZE_H} >= fake_height * {RESIZE_W}"
    fit = _fake_decode(media.filter("media_type = 'image'")).selectExpr(
        "doc_id",
        "media_type",
        "payload",
        "fake_width AS in_width",
        "fake_height AS in_height",
        f"CAST(IF({width_bound}, {RESIZE_W}, fake_width * {RESIZE_H} div fake_height) AS INT)"
        " AS out_width",
        f"CAST(IF({width_bound}, fake_height * {RESIZE_W} div fake_width, {RESIZE_H}) AS INT)"
        " AS out_height",
    )
    return fit.selectExpr(
        "doc_id",
        "media_type",
        "in_width",
        "in_height",
        "out_width",
        "out_height",
        "substr(sha2(concat(payload, encode(concat(CAST(out_width AS STRING), 'x',"
        " CAST(out_height AS STRING)), 'UTF-8')), 256), 1, 16) AS resized_sha",
    )


# ------------------------------------------------------ real audio path

# Unlike image/video (codec libs absent -> documented sha256 fake), PCM
# WAV needs only the stdlib `wave` module — so the audio path is a REAL
# container decode: synthesized RIFF/WAVE payloads round-trip through an
# actual parser, and the features below (rate, channels, duration, RMS,
# peak) come from the decoded samples, not a digest.

WAV_SAMPLE_RATE = 8000
WAV_N_SAMPLES = 400  # 50 ms per clip

PAYLOAD_SCHEMA = "doc_id long, payload binary"  # every synthesized audio, image and video table
AUDIO_FEATURE_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, n_samples int, "
    "duration_ms int, rms_e3 long, peak int, decoder string"
)


def synth_wav_bytes(doc_id: int) -> bytes:
    """Deterministic mono PCM16 WAV: a pure sine whose frequency and
    amplitude derive from doc_id.  Executor-side; also used by the law
    test to recompute expectations locally."""
    import io
    import math
    import struct
    import wave

    freq = 100 + (doc_id % 20) * 25
    amp = 8000 + (doc_id % 7) * 1000
    samples = [
        int(amp * math.sin(2 * math.pi * freq * t / WAV_SAMPLE_RATE))
        for t in range(WAV_N_SAMPLES)
    ]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(struct.pack(f"<{WAV_N_SAMPLES}h", *samples))
    return buf.getvalue()


def _payloads(docs: DataFrame, make: Callable[[int], bytes]) -> DataFrame:
    """``(doc_id, make(doc_id))`` for every document of ``docs`` — the
    payload-table shape every synthesized medium shares."""
    return map_records(
        docs.select("doc_id"), lambda doc_id: [(doc_id, make(doc_id))], PAYLOAD_SCHEMA
    )


def synthesize_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One WAV payload per document — the audio-table shape."""
    return _payloads(table(spark, sf_dir, "documents"), synth_wav_bytes)


def decode_audio_features(audio: DataFrame) -> DataFrame:
    """REAL decode: parse each RIFF/WAVE container with stdlib ``wave``,
    unpack the PCM16 frames, and compute sample-domain features.  The
    squared-sample sum is exact integer arithmetic; only the final RMS
    sqrt is float (quantized to e3 for stability)."""

    def features(doc_id: int, payload: bytes) -> list[tuple]:
        import io
        import math
        import struct
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            sr = w.getframerate()
            nc = w.getnchannels()
            n = w.getnframes()
            raw = w.readframes(n)
        s = struct.unpack(f"<{n * nc}h", raw)
        sq = sum(x * x for x in s)  # exact int
        return [
            (
                doc_id,
                sr,
                nc,
                n,
                round(1000 * n / sr),
                round(1000 * math.sqrt(sq / len(s))),
                max(abs(min(s)), abs(max(s))),
                "stdlib-wave",
            )
        ]

    return map_records(audio, features, AUDIO_FEATURE_SCHEMA)


# ----------------------------------------------------- real image path

# Same move as WAV: 24-bit BMP is a fixed-layout container a pure-
# Python struct parse handles — so the image path also gets a REAL
# decode (header-declared dims + exact integer channel sums), keeping
# the sha256 fake only for formats that genuinely need absent codecs.

BMP_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, bpp int, n_pixels int, "
    "mean_r_e3 long, mean_g_e3 long, mean_b_e3 long, decoder string"
)


def synth_bmp_bytes(doc_id: int) -> bytes:
    """Deterministic 24-bit bottom-up BMP; dims and pixels derive from
    doc_id.  Also used by the law test for local recomputation."""
    import struct

    w = 8 + doc_id % 9
    h = 8 + doc_id % 7
    row_pad = (-(w * 3)) % 4
    rows = []
    for y in range(h):  # bottom-up per the format
        row = bytearray()
        for x in range(w):
            b = (doc_id * 11 + x * 3 + y * 7) % 256
            g = (doc_id * 5 + x * 13 + y * 2) % 256
            r = (doc_id * 3 + x * 7 + y * 11) % 256
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * row_pad
        rows.append(bytes(row))
    pixel_data = b"".join(rows)
    off = 14 + 40
    file_header = struct.pack("<2sIHHI", b"BM", off + len(pixel_data), 0, 0, off)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    return file_header + info_header + pixel_data


def synthesize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _payloads(table(spark, sf_dir, "documents"), synth_bmp_bytes)


def decode_bmp_features(images: DataFrame) -> DataFrame:
    """REAL decode: parse the BITMAPFILE/INFO headers, walk the padded
    bottom-up pixel rows, and produce header dims + exact integer
    channel sums (e3-quantized means)."""

    def features(doc_id: int, buf: bytes) -> list[tuple]:
        import struct

        magic, _, _, _, off = struct.unpack_from("<2sIHHI", buf, 0)
        if magic != b"BM":
            raise ValueError(f"doc {doc_id}: not a BMP payload")
        hsz, w, h, _, bpp = struct.unpack_from("<IiiHH", buf, 14)
        row_stride = (w * 3 + 3) & ~3
        sr = sg = sb = 0
        for y in range(h):
            base = off + y * row_stride
            for x in range(w):
                i = base + x * 3
                sb += buf[i]
                sg += buf[i + 1]
                sr += buf[i + 2]
        n = w * h
        return [
            (
                doc_id, w, h, bpp, n,
                round(1000 * sr / n), round(1000 * sg / n),
                round(1000 * sb / n), "stdlib-struct-bmp",
            )
        ]

    return map_records(images, features, BMP_FEATURE_SCHEMA)


# ----------------------------------------------------- real video path

# YUV4MPEG2 (y4m) is the plain-header raw-frame interchange format the
# ffmpeg/mplayer toolchain uses; header + FRAME markers parse with
# pure Python, so frame SAMPLING becomes real too: parse the stream
# header, seek frame payloads, and emit one feature row per sampled
# frame (1 -> N, the media-UDTF pattern over an actual container).

Y4M_FRAME_SCHEMA = (
    "doc_id long, frame_index int, width int, height int, "
    "mean_y_e3 long, decoder string"
)


def synth_y4m_bytes(doc_id: int) -> bytes:
    """Deterministic C444 y4m clip: 1 + doc_id % 4 frames of 8x6 YUV."""
    w, h = 8, 6
    n_frames = 1 + doc_id % 4
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()]
    for f in range(n_frames):
        out.append(b"FRAME\n")
        y_plane = bytes(
            (doc_id * 13 + f * 29 + i) % 256 for i in range(w * h)
        )
        u_plane = bytes((doc_id * 7 + f * 3 + i) % 256 for i in range(w * h))
        v_plane = bytes((doc_id * 17 + f * 5 + i) % 256 for i in range(w * h))
        out += [y_plane, u_plane, v_plane]
    return b"".join(out)


def synthesize_videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _payloads(table(spark, sf_dir, "documents"), synth_y4m_bytes)


def decode_y4m_frames(videos: DataFrame) -> DataFrame:
    """REAL frame sampling: parse the YUV4MPEG2 stream header (W/H/C
    tokens), walk FRAME markers, and emit per-frame luma means from
    exact integer sums — one output row per frame of each clip."""

    def frames(doc_id: int, buf: bytes) -> list[tuple]:
        nl = buf.index(b"\n")
        tokens = buf[:nl].decode().split(" ")
        if tokens[0] != "YUV4MPEG2":
            raise ValueError(f"doc {doc_id}: not a y4m payload")
        w = int(next(t[1:] for t in tokens if t.startswith("W")))
        h = int(next(t[1:] for t in tokens if t.startswith("H")))
        c = next((t[1:] for t in tokens if t.startswith("C")), "420")
        plane = w * h
        frame_bytes = plane * 3 if c == "444" else plane * 3 // 2
        rows = []
        pos, idx = nl + 1, 0
        while pos < len(buf):
            fnl = buf.index(b"\n", pos)
            if not buf[pos:fnl].startswith(b"FRAME"):
                raise ValueError(f"doc {doc_id}: no FRAME marker at byte {pos}")
            y_plane = buf[fnl + 1 : fnl + 1 + plane]
            rows.append(
                (
                    doc_id, idx, w, h,
                    round(1000 * sum(y_plane) / plane),
                    "stdlib-y4m",
                )
            )
            pos = fnl + 1 + frame_bytes
            idx += 1
        return rows

    return map_records(videos, frames, Y4M_FRAME_SCHEMA)


# ----------------------------------------------- image dHash near-dup

# The gradient-pattern BMPs above are too regular for perceptual
# hashing (linear mod-256 gradients make unrelated dHashes collide),
# so the dedup corpus uses hash-seeded pseudo-random pixels: every
# content key yields an i.i.d.-looking image, and the perturbed twin
# (+2 on every 37th byte) moves the 64-bit dHash by <= 1 bit while
# unrelated keys sit >= 22 bits apart (measured; median 32 = the
# binomial(64, 1/2) bulk).

DHASH_IMG_W = 16
DHASH_IMG_H = 12
DHASH_GROUP = 3  # doc_id // 3 -> every 3 consecutive docs share an image
DHASH_PERTURB_EVERY = 13  # every 13th doc gets the near-dup variant


def synth_noise_bmp_bytes(key: int) -> bytes:
    """Deterministic 24-bit BMP with sha256-seeded pseudo-random pixels."""
    import hashlib
    import struct

    w, h = DHASH_IMG_W, DHASH_IMG_H
    row_pad = (-(w * 3)) % 4
    stream = b""
    i = 0
    while len(stream) < w * h * 3:
        stream += hashlib.sha256(f"img:{key}:{i}".encode()).digest()
        i += 1
    px = iter(stream)
    rows = []
    for _ in range(h):
        row = bytearray()
        for _ in range(w):
            row += bytes((next(px), next(px), next(px)))
        row += b"\x00" * row_pad
        rows.append(bytes(row))
    data = b"".join(rows)
    off = 54
    fh = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    ih = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return fh + ih + data


def perturb_bmp_bytes(buf: bytes, step: int = 37, delta: int = 2) -> bytes:
    """Mild deterministic pixel noise (the near-duplicate generator)."""
    out = bytearray(buf)
    for i in range(54, len(out), step):
        out[i] = min(255, out[i] + delta)
    return bytes(out)


def bmp_dhash64(buf: bytes) -> int:
    """64-bit difference hash (dHash, Krawetz 2013): grayscale, sample
    a 9x8 grid, emit one bit per horizontal gradient sign.  Returned as
    a SIGNED 64-bit int (two's complement) so it lands in a Spark
    LongType column unchanged."""
    import struct

    off = struct.unpack_from("<2sIHHI", buf, 0)[4]
    _, w, h, _, _ = struct.unpack_from("<IiiHH", buf, 14)
    stride = (w * 3 + 3) & ~3

    def gray(x: int, y: int) -> int:
        i = off + y * stride + x * 3
        return (buf[i] + buf[i + 1] + buf[i + 2]) // 3

    bits = 0
    for yy in range(8):
        yi = yy * (h - 1) // 7
        row = [gray(xx * (w - 1) // 8, yi) for xx in range(9)]
        for xx in range(8):
            bits = (bits << 1) | (1 if row[xx] < row[xx + 1] else 0)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def synthesize_dedup_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image corpus with INJECTED duplicate structure: content key =
    doc_id // 3 (every 3 consecutive docs share an image, so dup-group
    size is CONSTANT at every SF and pair volume stays linear), and
    every 13th doc gets the perturbed near-dup variant."""

    def make(i: int) -> bytes:
        buf = synth_noise_bmp_bytes(i // DHASH_GROUP)
        return perturb_bmp_bytes(buf) if i % DHASH_PERTURB_EVERY == 0 else buf

    return _payloads(table(spark, sf_dir, "documents"), make)


def image_dhash(images: DataFrame) -> DataFrame:
    """Decode + dHash per image inside ``io.map_records`` — Python IS
    the point here (binary container walk); everything downstream
    (banding, joins, Hamming verify) stays JVM-side."""
    return map_records(
        images, lambda doc_id, buf: [(doc_id, bmp_dhash64(buf))], "doc_id long, dhash long"
    )


# --------------------------------------------- audio fingerprint dedup

# Same corpus discipline as the image dHash: sine fixtures are too
# regular for energy fingerprints (flat windowed energy), so the dedup
# corpus uses sha256-seeded noise PCM; content key = doc_id // 3 and
# every 13th doc is a volume-scaled (49/50) variant — energy ORDER is
# volume-invariant, so variants measured Hamming 0 while unrelated
# keys sit >= 16 bits apart (median 32).

AFP_N_SAMPLES = 2080  # 65 windows x 32 samples
AFP_WINDOW = 32


def synth_noise_wav_bytes(key: int) -> bytes:
    """Deterministic mono PCM16 WAV of sha256-seeded noise."""
    import hashlib
    import io
    import struct
    import wave

    stream = b""
    i = 0
    while len(stream) < AFP_N_SAMPLES * 2:
        stream += hashlib.sha256(f"wav:{key}:{i}".encode()).digest()
        i += 1
    vals = struct.unpack(f"<{AFP_N_SAMPLES}h", stream[: AFP_N_SAMPLES * 2])
    samples = [int(v / 4) for v in vals]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(struct.pack(f"<{AFP_N_SAMPLES}h", *samples))
    return buf.getvalue()


def _synth_noise_wav_bytes_np(key: int) -> bytes:
    """Byte-identical fast path of synth_noise_wav_bytes: the per-sample
    ``int(v / 4)`` Python loop becomes one numpy truncate-toward-zero
    (int(v/4) truncates; // floors — np.trunc matches the former), and
    the PCM packs via tobytes (little-endian int16, exactly struct.pack
    '<h').  Equality with the reference is law-tested."""
    import hashlib
    import io
    import wave

    import numpy as np

    stream = b""
    i = 0
    while len(stream) < AFP_N_SAMPLES * 2:
        stream += hashlib.sha256(f"wav:{key}:{i}".encode()).digest()
        i += 1
    vals = np.frombuffer(stream, dtype="<i2", count=AFP_N_SAMPLES)
    samples = np.trunc(vals / 4.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def volume_scale_wav_bytes(buf: bytes, num: int = 49, den: int = 50) -> bytes:
    """Deterministic volume change (the near-duplicate generator)."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(buf), "rb") as r:
        n = r.getnframes()
        rate = r.getframerate()
        frames = r.readframes(n)
    vals = struct.unpack(f"<{n}h", frames)
    scaled = [v * num // den for v in vals]
    out = io.BytesIO()
    with wave.open(out, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{n}h", *scaled))
    return out.getvalue()


def _volume_scale_wav_bytes_np(buf: bytes, num: int = 49, den: int = 50) -> bytes:
    """Byte-identical fast path of volume_scale_wav_bytes: int64
    ``* num // den`` in numpy floors exactly like Python ``//``; the
    shrink factor keeps every value in int16 range.  Equality with the
    reference is law-tested."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(buf), "rb") as r:
        n = r.getnframes()
        rate = r.getframerate()
        frames = r.readframes(n)
    vals = np.frombuffer(frames, dtype="<i2", count=n).astype(np.int64)
    scaled = (vals * num // den).astype("<i2")
    out = io.BytesIO()
    with wave.open(out, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(scaled.tobytes())
    return out.getvalue()


def wav_energy_fp64(buf: bytes) -> int:
    """64-bit energy-difference fingerprint: 65 window energies (exact
    integer sums of squares over decoded PCM), one bit per adjacent
    comparison — the 1-D dHash; invariant to uniform volume scaling
    because only the energy ORDER matters.  Signed 64-bit return."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(buf), "rb") as r:
        n = r.getnframes()
        vals = struct.unpack(f"<{n}h", r.readframes(n))
    es = [
        sum(v * v for v in vals[w * AFP_WINDOW : (w + 1) * AFP_WINDOW])
        for w in range(65)
    ]
    bits = 0
    for i in range(64):
        bits = (bits << 1) | (1 if es[i] < es[i + 1] else 0)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def _wav_energy_fp64_np(buf: bytes) -> int:
    """Bit-identical fast path of wav_energy_fp64: the per-sample
    Python sum-of-squares becomes one int64 numpy reduction (exact —
    max window energy 32768^2 * 32 << 2^63).  Equality with the
    reference is law-tested."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(buf), "rb") as r:
        n = r.getnframes()
        frames = r.readframes(n)
    vals = np.frombuffer(frames, dtype="<i2", count=65 * AFP_WINDOW).astype(
        np.int64
    )
    es = (vals * vals).reshape(65, AFP_WINDOW).sum(axis=1)
    bits = 0
    for c in es[:-1] < es[1:]:
        bits = (bits << 1) | int(c)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def synthesize_dedup_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio corpus with injected duplicate structure (groups of 3
    consecutive doc_ids; every 13th doc volume-scaled).

    The doc-id list arrives as ONE parquet scan partition, which made
    the whole synth+decode chain a single serial Python task;
    ``io.fan_out`` on the CONTENT key (doc_id DIV group) spreads the
    Python work across every core while keeping each dup group's 3
    docs in one task, so the per-key WAV synthesizes once per group
    instead of once per doc (a memo in ``make``'s closure, which every
    task unpickles afresh — per task, never across runs).  Row values
    are unchanged (fingerprints are order-insensitive)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    d = fan_out(d, (F.col("doc_id") / DHASH_GROUP).cast("long"))
    base: dict[int, bytes] = {}

    def make(i: int) -> bytes:
        key = i // DHASH_GROUP
        buf = base.get(key)
        if buf is None:
            buf = base[key] = _synth_noise_wav_bytes_np(key)
        return _volume_scale_wav_bytes_np(buf) if i % DHASH_PERTURB_EVERY == 0 else buf

    return _payloads(d, make)


def audio_fingerprints(audio: DataFrame) -> DataFrame:
    return map_records(
        audio, lambda doc_id, buf: [(doc_id, _wav_energy_fp64_np(buf))], "doc_id long, afp long"
    )


# --------------------------------------------------- perceptual pHash


def _dct_mat(n: int) -> "np.ndarray":
    """Orthonormal DCT-II basis matrix (the JPEG/pHash transform)."""
    import numpy as np

    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


def bmp_phash64(buf: bytes) -> int:
    """64-bit DCT perceptual hash (pHash): decode the 24-bit BMP to a
    luma grid, 2-D DCT-II, keep the top-left 8x8 low-frequency block,
    and emit one bit per coefficient vs the median of the 63 AC
    coefficients.  Median thresholding makes the hash invariant to
    any positive affine luma rescale except (at most) the DC bit —
    the robustness dHash's raw gradient signs don't have.  Signed
    64-bit so it lands in a Spark LongType unchanged."""
    import struct

    import numpy as np

    off = struct.unpack_from("<2sIHHI", buf, 0)[4]
    _, w, h, _, _ = struct.unpack_from("<IiiHH", buf, 14)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(buf, dtype=np.uint8, count=h * stride, offset=off)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    luma = rows.astype(np.float64).mean(axis=2)
    coeffs = _dct_mat(h) @ luma @ _dct_mat(w).T
    block = coeffs[:8, :8].ravel()
    med = np.median(block[1:])
    bits = 0
    for v in block:
        bits = (bits << 1) | (1 if v > med else 0)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_phash(images: DataFrame) -> DataFrame:
    """Decode + pHash per image inside ``io.map_records`` (the
    image_dhash shape: Python touches each payload once, everything
    downstream stays JVM-side)."""
    return map_records(
        images, lambda doc_id, buf: [(doc_id, bmp_phash64(buf))], "doc_id long, phash long"
    )

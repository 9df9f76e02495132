"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

IMAGE decode is REAL for two container formats, implemented from the
public specs with nothing beyond the stdlib (``zlib``/``struct``) +
numpy:

- PNM (P5 grayscale / P6 RGB binary, the Netpbm spec);
- PNG (ISO/IEC 15948): 8-bit gray/gray+alpha/RGB/RGBA, non-interlaced,
  zlib-inflated IDAT, all five row filters (None/Sub/Up/Average/Paeth).

JPEG decode is REAL for baseline sequential DCT (ITU-T T.81 — Huffman
entropy decode with restart markers, dequantization, exact separable
IDCT, 4:2:0/4:2:2 chroma upsampling, JFIF YCbCr->RGB) via
``functions/jpeg.py``, which also ships a baseline encoder (Annex K
tables, libjpeg-style quality, 4:4:4 / 4:2:0, DRI) used as the test
fixture; progressive/arithmetic/12-bit modes raise DecodeUnavailable.

VIDEO decode is REAL for MJPEG-in-AVI (RIFF chunk walk, 00dc/00db
frames through the baseline JPEG decoder) via ``decode_avi_frames``;
``encode_avi_mjpeg`` writes the container for fixtures.

AUDIO decode is REAL for RIFF/WAV PCM (8/16-bit, any channel count,
chunk-walking per the Microsoft/IBM WAVE spec) via ``decode_wav`` —
pure ``struct`` + numpy.  ``make_fake_media(kind="image"|"audio")``
emits genuine PNG / WAV payloads, so the image feature/pHash and audio
feature pipelines run on real decoded samples end-to-end.
WebP/AVIF and compressed audio/video codecs (MP3/AAC/H.264...) still
raise ``DecodeUnavailable`` — those need native codec libs this
container doesn't ship; swapping in Pillow/torchaudio changes one
function body, not the plan.  Unrecognized payloads in the feature
extractors fall back to the deterministic byte-tiling/-centering fake
so opaque-binary plumbing stays exercisable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


class DecodeUnavailable(NotImplementedError):
    """Raised for container formats needing codec libs this container
    doesn't ship (WebP/AVIF, progressive JPEG, MP3/AAC/H.264...)."""


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def fixture_image_array(i: int) -> np.ndarray:
    """Source pixel array for fixture image ``i`` (pre-encode) — shared
    by make_fake_media and the independent fixture oracles
    (workloads/mm_oracles.py), so expected feature values derive from
    the SOURCE data, never from the decoders under test."""
    rng = np.random.default_rng(i)
    return (
        np.add.outer(np.arange(24) * 3, np.arange(32) * 2)
        + rng.integers(0, 64, size=(24, 32))
    ).astype(np.uint8)


def fixture_audio_pcm(i: int) -> np.ndarray:
    """Source PCM samples for fixture audio ``i`` (pre-encode)."""
    rng = np.random.default_rng(i)
    t = np.arange(400, dtype=np.float64)
    return (
        3000 * np.sin(2 * np.pi * t * (110 + 13 * i) / 8000)
        + rng.integers(-200, 200, size=t.size)
    ).astype(np.int16)


def fixture_video_frames(i: int) -> list[np.ndarray]:
    """Source frames for fixture video ``i`` (pre-encode, pre-JPEG)."""
    return [
        np.clip(
            np.add.outer(np.arange(16) * 4, np.arange(16) * 3) + 10 * f + 2 * i,
            0,
            255,
        ).astype(np.uint8)
        for f in range(6)
    ]


def make_fake_media(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic media payloads for the pipelines: images are REAL
    PNGs (seeded gradient + noise, decoded back by decode_image), audio
    payloads are REAL RIFF/WAV PCM (seeded tone + noise, decoded back
    by decode_wav), video payloads are REAL MJPEG AVIs (moving seeded
    gradients, decoded back by decode_avi_frames)."""
    rows = []
    for i in range(n):
        rng = np.random.default_rng(i)
        if kind == "image":
            payload = encode_png(fixture_image_array(i))
            rows.append((i, kind, "image/png", 32, 24, 1000 + i, payload))
        elif kind == "audio":
            payload = encode_wav(fixture_audio_pcm(i), rate=8000)
            rows.append((i, kind, "audio/wav", 32, 24, 1000 + i, payload))
        elif kind == "video":
            payload = encode_avi_mjpeg(fixture_video_frames(i), fps=4)
            rows.append(
                (i, kind, "video/x-msvideo", 16, 16, 1000 + i, payload)
            )
        else:
            payload = bytes(rng.integers(0, 256, size=256, dtype=np.uint8))
            rows.append((i, kind, f"{kind}/fake", 32, 24, 1000 + i, payload))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def encode_ppm(img: np.ndarray) -> bytes:
    """Netpbm binary encode: P5 for (h, w) gray, P6 for (h, w, 3) RGB."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        head = f"P5\n{img.shape[1]} {img.shape[0]}\n255\n"
    elif img.ndim == 3 and img.shape[2] == 3:
        head = f"P6\n{img.shape[1]} {img.shape[0]}\n255\n"
    else:
        raise ValueError(f"unsupported shape {img.shape}")
    return head.encode("ascii") + img.tobytes()


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Minimal spec-correct PNG encode (8-bit gray/RGB/RGBA, filter 0
    rows, one zlib IDAT) — the test-fixture twin of _decode_png."""
    import struct
    import zlib

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        ctype, channels = 0, 1
    elif img.ndim == 3 and img.shape[2] == 3:
        ctype, channels = 2, 3
    elif img.ndim == 3 and img.shape[2] == 4:
        ctype, channels = 6, 4
    else:
        raise ValueError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = img.reshape(h, w * channels)
    scanlines = b"".join(b"\x00" + raw[y].tobytes() for y in range(h))
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )


def encode_wav(pcm: np.ndarray, rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE writer (pure struct/stdlib): 16-bit little-
    endian PCM, mono or (n, channels).  Canonical 44-byte header —
    the exact layout every WAV reader understands."""
    import struct

    pcm = np.asarray(pcm, dtype="<i2")
    if pcm.ndim == 1:
        pcm = pcm[:, None]
    channels = pcm.shape[1]
    data = pcm.tobytes()
    block_align = channels * 2
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,
        1,  # PCM
        channels,
        int(rate),
        int(rate) * block_align,
        block_align,
        16,
        b"data",
        len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Minimal RIFF/WAVE PCM reader (pure struct/stdlib — no codec
    libs): walks the chunk list (any order, unknown chunks skipped,
    odd sizes padded per spec), accepts uncompressed PCM at 8 or 16
    bits.  Returns (samples, sample_rate) with samples int16 — 8-bit
    unsigned is centered to signed ((x - 128) << 8 is NOT applied;
    values are kept at their native scale, just centered) — shaped
    (n,) for mono, (n, channels) otherwise.  Anything that is not a
    RIFF/WAVE PCM container raises DecodeUnavailable (compressed
    codecs stay the declared boundary)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise DecodeUnavailable("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        raise DecodeUnavailable("malformed WAV (missing fmt/data chunk)")
    audio_format, channels, rate, _, _, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_format != 1 or channels < 1:
        raise DecodeUnavailable(
            f"unsupported WAV format {audio_format} (PCM only)"
        )
    if bits == 16:
        samples = np.frombuffer(
            data[: (len(data) // (2 * channels)) * 2 * channels], dtype="<i2"
        ).astype(np.int16)
    elif bits == 8:
        samples = (
            np.frombuffer(
                data[: (len(data) // channels) * channels], dtype=np.uint8
            ).astype(np.int16)
            - 128
        )
    else:
        raise DecodeUnavailable(f"unsupported WAV bit depth {bits}")
    if channels > 1:
        samples = samples.reshape(-1, channels)
    return samples, int(rate)


def _decode_pnm(payload: bytes) -> np.ndarray:
    """P5/P6 binary Netpbm: whitespace-separated header tokens (with
    '#' comments), then maxval+1 raster bytes per sample."""
    if payload[:2] not in (b"P5", b"P6"):
        raise DecodeUnavailable("not a binary PNM payload")
    tokens, i = [], 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise DecodeUnavailable("only 8-bit PNM supported")
    channels = 3 if payload[:2] == b"P6" else 1
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * channels, offset=i)
    return data.reshape((h, w) if channels == 1 else (h, w, 3)).copy()


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _decode_png(payload: bytes) -> np.ndarray:
    """8-bit non-interlaced PNG: chunk walk, zlib inflate of the IDAT
    stream, per-row unfilter (spec §9: None/Sub/Up/Average/Paeth)."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise DecodeUnavailable("not a PNG payload")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # skip CRC
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise DecodeUnavailable("malformed PNG (missing IHDR/IDAT)")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if depth != 8 or channels is None or comp != 0 or filt != 0 or interlace != 0:
        raise DecodeUnavailable(
            f"unsupported PNG variant (depth={depth} color={ctype} interlace={interlace})"
        )
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise DecodeUnavailable("PNG raster size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:
            rec = row
        elif ftype == 2:  # Up
            rec = (row + prev) & 0xFF
        else:  # Sub/Average/Paeth recurse on the row — per-sample loop
            rec = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                elif ftype == 4:
                    pred = _paeth(a, b, c)
                else:
                    raise DecodeUnavailable(f"bad PNG filter {ftype}")
                rec[x] = (int(row[x]) + pred) & 0xFF
        out[y] = rec.astype(np.uint8)
    return out.reshape((h, w) if channels == 1 else (h, w, channels))


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a PNM (P5/P6), 8-bit non-interlaced PNG, or baseline
    sequential JPEG payload to a uint8 array — (h, w) grayscale or
    (h, w, c).  Pure stdlib + numpy (JPEG: functions/jpeg.py, T.81
    baseline with Huffman decode, dequant, exact IDCT, chroma
    upsampling); other containers raise DecodeUnavailable (the explicit
    codec boundary a real deployment fills with Pillow)."""
    payload = bytes(payload)
    if payload[:2] in (b"P5", b"P6"):
        return _decode_pnm(payload)
    if payload[:8] == _PNG_MAGIC:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from stdb_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise DecodeUnavailable(
        "unrecognized image container (PNM/PNG/JPEG supported)"
    )


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """Integer ITU-R 601 luma ((299 r + 587 g + 114 b) // 1000) — fully
    deterministic, no float rounding."""
    if img.ndim == 2:
        return img
    r, g, b = (img[..., i].astype(np.int64) for i in range(3))
    return ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)


def _resize_nn(img: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbor resample with floor-index sampling (integer
    arithmetic — deterministic everywhere)."""
    ys = (np.arange(h) * img.shape[0]) // h
    xs = (np.arange(w) * img.shape[1]) // w
    return img[np.ix_(ys, xs)]


def _decode_any(payload: bytes, width: int, height: int) -> np.ndarray:
    """Real decode when the container is recognized; otherwise the
    deterministic byte-tiling fake (opaque payloads stay flowable)."""
    try:
        return to_grayscale(decode_image(payload))
    except DecodeUnavailable:
        return _fake_decode(payload, width, height)


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in: payload bytes tiled to (height, width)."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    reps = int(np.ceil(width * height / arr.size))
    return np.tile(arr, reps)[: width * height].reshape(height, width)


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("std_px", T.DoubleType()),
        T.StructField("n_px", T.LongType()),
    ]
)


def extract_image_features(df: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches of (payload, dims)
    -> per-image statistics.  The UDF sees columnar batches, never
    row-at-a-time Python; executors stream partitions, so a 100 TB media
    table is bounded by `spark.sql.files.maxPartitionBytes`, not RAM."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            out = {"media_id": [], "mean_px": [], "std_px": [], "n_px": []}
            for mid, payload, w, h in zip(
                pdf["media_id"], pdf["payload"], pdf["width"], pdf["height"]
            ):
                img = _decode_any(bytes(payload), int(w), int(h))
                # mean/std through EXACT integer sums, then one float op
                # per step — the same op tree a SQL oracle evaluates, so
                # the values reproduce bit-for-bit cross-engine
                # (np.std's pairwise float path would differ in ulps)
                g = img.astype(np.int64)
                n = int(g.size)
                s = int(g.sum())
                ss = int((g * g).sum())
                mean = s / n
                var = ss / n - mean * mean
                out["media_id"].append(int(mid))
                out["mean_px"].append(mean)
                out["std_px"].append(math.sqrt(var if var > 0.0 else 0.0))
                out["n_px"].append(n)
            yield pd.DataFrame(out)

    return df.select("media_id", "payload", "width", "height").mapInPandas(
        fn, schema=FEATURE_SCHEMA
    )


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("n_samples", T.LongType()),
    ]
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """mapInPandas audio features over REAL PCM: RIFF/WAV payloads are
    decoded by the stdlib parser (decode_wav — genuine samples, mono
    mixdown by first channel), and only opaque non-WAV payloads fall
    back to the documented byte-reinterpretation fake so compressed
    codecs (the declared DecodeUnavailable boundary) still flow through
    the plan.  Features: RMS level and zero-crossing count — the
    standard cheap audio-quality signals a training pipeline filters
    on.  Same Arrow-batch contract as extract_image_features; a real
    deployment swaps the fallback for torchaudio/ffmpeg without
    touching the plan."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            out = {
                "media_id": [], "duration_ms": [], "rms": [],
                "zero_crossings": [], "n_samples": [],
            }
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                try:
                    pcm, _rate = decode_wav(bytes(payload))
                    if pcm.ndim > 1:
                        pcm = pcm[:, 0]
                except DecodeUnavailable:
                    # opaque codec: byte reinterpretation keeps the
                    # plumbing testable without codec libs
                    pcm = (
                        np.frombuffer(payload, dtype=np.uint8).astype(np.int16)
                        - 128
                    )
                # RMS through an EXACT integer sum of squares, then one
                # division + one sqrt — reproduces bit-for-bit in SQL
                p64 = pcm.astype(np.int64)
                n = int(p64.size)
                ss = int((p64 * p64).sum())
                out["media_id"].append(int(mid))
                out["duration_ms"].append(int(dur))
                out["rms"].append(math.sqrt(ss / n) if n else 0.0)
                out["zero_crossings"].append(
                    int(np.count_nonzero(np.diff(np.signbit(pcm))))
                )
                out["n_samples"].append(n)
            yield pd.DataFrame(out)

    return df.filter(F.col("kind") == "audio").select(
        "media_id", "payload", "duration_ms"
    ).mapInPandas(fn, schema=AUDIO_FEATURE_SCHEMA)


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: int = 4, quality: int = 90
) -> bytes:
    """Minimal RIFF/AVI container around baseline-JPEG frames (MJPEG) —
    pure struct + the in-repo JPEG encoder.  avih/strh/strf headers per
    the Microsoft AVI spec, frames as ``00dc`` chunks in the ``movi``
    list, word-aligned."""
    import struct

    from stdb_spark.functions.jpeg import encode_jpeg

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    payloads = [encode_jpeg(f, quality=quality) for f in frames]
    us_per_frame = 1_000_000 // int(fps)

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<14I",
        us_per_frame, 0, 0, 0, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, int(fps), 0,
                      len(frames), 0, 10_000, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_frames(payload: bytes) -> tuple[list[np.ndarray], int]:
    """Walk a RIFF/AVI container and decode its MJPEG frames (``00dc``/
    ``00db`` chunks) with the in-repo baseline JPEG decoder.  Returns
    (frames, us_per_frame).  Non-AVI payloads, or AVIs whose frames are
    not baseline JPEG, raise DecodeUnavailable — compressed codecs
    (H.264 etc.) remain the declared boundary."""
    import struct

    from stdb_spark.functions.jpeg import decode_jpeg

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise DecodeUnavailable("not a RIFF/AVI payload")
    us_per_frame = 0
    frames: list[np.ndarray] = []

    def walk(buf: bytes) -> None:
        nonlocal us_per_frame
        pos = 0
        while pos + 8 <= len(buf):
            tag = buf[pos : pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            body = buf[pos + 8 : pos + 8 + size]
            if tag == b"LIST":
                walk(body[4:])
            elif tag == b"avih" and len(body) >= 4:
                (us_per_frame,) = struct.unpack_from("<I", body, 0)
            elif tag in (b"00dc", b"00db") and body:
                frames.append(decode_jpeg(body))
            pos += 8 + size + (size & 1)

    try:
        walk(payload[12:])
    except NotImplementedError:
        raise  # DecodeUnavailable (e.g. non-MJPEG frames) unchanged
    except (struct.error, IndexError, ValueError) as exc:
        # truncated/corrupt container: declared boundary, not a task
        # crash — the extractors' fallback catches DecodeUnavailable
        raise DecodeUnavailable(f"corrupt AVI payload: {exc}") from exc
    if not frames:
        raise DecodeUnavailable("AVI payload carries no MJPEG frames")
    return frames, int(us_per_frame)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_ms", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("n_px", T.LongType()),
    ]
)


def sample_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled
    timestamp, with REAL per-frame statistics when the payload is an
    MJPEG AVI (decode_avi_frames — RIFF walk + in-repo JPEG decode of
    the frame nearest each tick).  Opaque payloads (compressed codecs,
    the declared boundary) flow through on the deterministic
    byte-tiling fake so the plumbing stays exercisable.  mapInPandas,
    Arrow-batched — the same contract as the image/audio extractors."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "frame_ms": [], "frame_idx": [],
                "mean_px": [], "n_px": [],
            }
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                try:
                    frames, uspf = decode_avi_frames(bytes(payload))
                except DecodeUnavailable:
                    frames, uspf = None, 0
                for tick in range(0, int(dur) + 1, every_ms):
                    if frames is not None:
                        idx = min(
                            len(frames) - 1,
                            (tick * 1000) // max(uspf, 1),
                        )
                        img = frames[idx]
                    else:
                        idx = -1  # fallback marker: no real decode
                        img = _fake_decode(bytes(payload), 16, 16)
                    out["media_id"].append(int(mid))
                    out["frame_ms"].append(int(tick))
                    out["frame_idx"].append(int(idx))
                    # exact integer sum / one float division — the SQL
                    # oracle's op tree exactly
                    out["mean_px"].append(
                        int(img.astype(np.int64).sum()) / int(img.size)
                    )
                    out["n_px"].append(int(img.size))
            yield pd.DataFrame(out)

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "payload", "duration_ms")
        .mapInPandas(fn, schema=VIDEO_FRAME_SCHEMA)
    )


PHASH_SCHEMA = "media_id long, phash long"


def image_phash(df: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """64-bit perceptual hash per image (classic DCT pHash: decode →
    grayscale 32×32 → 2D DCT-II → top-left 8×8 low-frequency block →
    bit = coefficient > median).  Near-duplicate images differ in a few
    bits, so the output column feeds ``dedup.hamming_pairs`` unchanged —
    the multimodal twin of SimHash text dedup, same full-recall
    pigeonhole pairing, same one-shuffle plan.

    Arrow-batched mapInPandas; the DCT is a fixed 32×32 matrix multiply
    per image (numpy, vectorized).  Decode is REAL for PNG/PNM/baseline-JPEG payloads
    (grayscale luma, nearest-neighbor 32×32 resample); unrecognized
    containers fall back to the deterministic byte-tiling fake."""
    N = 32

    # DCT-II basis (orthonormal), fixed small matrix shared per batch
    k = np.arange(N)
    basis = np.sqrt(2.0 / N) * np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * N))
    basis[0, :] = np.sqrt(1.0 / N)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _resize_nn(
                    _decode_any(bytes(payload), N, N), N, N
                ).astype(np.float64)
                coeffs = basis @ img @ basis.T
                block = coeffs[:8, :8].flatten()
                # threshold = median of the 63 AC terms (DC excluded:
                # it tracks brightness, not structure) but ALL 64
                # coefficients contribute a bit — a full 64-bit hash,
                # bit i from block[i]
                med = float(np.median(block[1:]))
                bits = 0
                for i, c in enumerate(block):
                    if c > med:
                        bits |= 1 << i
                # two's-complement into signed 64-bit (bit 63 = sign)
                if bits >= 1 << 63:
                    bits -= 1 << 64
                out.append((int(mid), bits))
            yield pd.DataFrame(out, columns=["media_id", "phash"])

    return df.select("media_id", "payload").mapInPandas(fn, schema=PHASH_SCHEMA)


TILE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("min_px", T.LongType()),
        T.StructField("max_px", T.LongType()),
        T.StructField("n_px", T.LongType()),
    ]
)


def extract_image_tiles(
    df: DataFrame, tiles_y: int = 2, tiles_x: int = 2
) -> DataFrame:
    """Per-tile image statistics: decode, split the pixel grid into a
    tiles_y x tiles_x quadrant grid (floor-index tile boundaries, the
    same integer convention as _resize_nn), and emit exact integer
    stats per tile.  The vision-pipeline primitive behind patch-level
    quality filters (black-border detection, letterbox crop, per-region
    exposure).  Same Arrow-batch contract as extract_image_features:
    executors stream partition-sized batches, nothing collects."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "tile_y": [], "tile_x": [],
                "mean_px": [], "min_px": [], "max_px": [], "n_px": [],
            }
            for mid, payload, w, h in zip(
                pdf["media_id"], pdf["payload"], pdf["width"], pdf["height"]
            ):
                img = _decode_any(bytes(payload), int(w), int(h)).astype(
                    np.int64
                )
                ih, iw = img.shape
                for ty in range(tiles_y):
                    y0, y1 = (ty * ih) // tiles_y, ((ty + 1) * ih) // tiles_y
                    for tx in range(tiles_x):
                        x0 = (tx * iw) // tiles_x
                        x1 = ((tx + 1) * iw) // tiles_x
                        tile = img[y0:y1, x0:x1]
                        n = int(tile.size)
                        s = int(tile.sum())
                        out["media_id"].append(int(mid))
                        out["tile_y"].append(ty)
                        out["tile_x"].append(tx)
                        out["mean_px"].append(s / n)
                        out["min_px"].append(int(tile.min()))
                        out["max_px"].append(int(tile.max()))
                        out["n_px"].append(n)
            yield pd.DataFrame(out)

    return df.select("media_id", "payload", "width", "height").mapInPandas(
        fn, schema=TILE_SCHEMA
    )


THUMB_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("thumb_sum", T.LongType()),
        T.StructField("min_px", T.LongType()),
        T.StructField("max_px", T.LongType()),
        T.StructField("px_first", T.LongType()),
        T.StructField("px_last", T.LongType()),
    ]
)


def thumbnail_stats(df: DataFrame, w: int = 8, h: int = 8) -> DataFrame:
    """Thumbnail pipeline through the PRODUCTION resize path: decode ->
    _resize_nn(w, h) -> exact integer summary of the resized pixels
    (sum / min / max / first / last).  Proves the resize plumbing a
    media lake runs at ingest (thumbnail sidecars, fixed-size model
    inputs) with values an independent oracle can recompute."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "thumb_sum": [], "min_px": [],
                "max_px": [], "px_first": [], "px_last": [],
            }
            for mid, payload, iw, ih in zip(
                pdf["media_id"], pdf["payload"], pdf["width"], pdf["height"]
            ):
                img = _decode_any(bytes(payload), int(iw), int(ih))
                thumb = _resize_nn(img, w, h).astype(np.int64)
                out["media_id"].append(int(mid))
                out["thumb_sum"].append(int(thumb.sum()))
                out["min_px"].append(int(thumb.min()))
                out["max_px"].append(int(thumb.max()))
                out["px_first"].append(int(thumb[0, 0]))
                out["px_last"].append(int(thumb[h - 1, w - 1]))
            yield pd.DataFrame(out)

    return df.select("media_id", "payload", "width", "height").mapInPandas(
        fn, schema=THUMB_SCHEMA
    )


SILENCE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_silent", T.LongType()),
        T.StructField("n_runs", T.LongType()),
        T.StructField("longest_run", T.LongType()),
        T.StructField("silence_frac", T.DoubleType()),
    ]
)


def extract_audio_silence(
    df: DataFrame, threshold: int = 1000, min_run: int = 3
) -> DataFrame:
    """Silence-segment detection over REAL decoded PCM (decode_wav):
    a sample is silent when |v| < threshold; a run is a maximal block
    of consecutive silent samples, counted when its length >= min_run.
    The audio-curation primitive (dead-air trimming, voice-activity
    prefilter).  Integer arithmetic end to end; the one float output
    (silence_frac) is a single division, bit-reproducible in SQL."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "n_silent": [], "n_runs": [],
                "longest_run": [], "silence_frac": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    pcm, _rate = decode_wav(bytes(payload))
                    if pcm.ndim > 1:
                        pcm = pcm[:, 0]
                except DecodeUnavailable:
                    pcm = (
                        np.frombuffer(payload, dtype=np.uint8).astype(np.int16)
                        - 128
                    )
                silent = np.abs(pcm.astype(np.int64)) < threshold
                # run-length via edge detection on the padded mask
                padded = np.concatenate(([False], silent, [False]))
                edges = np.flatnonzero(np.diff(padded.astype(np.int8)))
                starts, ends = edges[::2], edges[1::2]
                lengths = ends - starts
                kept = lengths[lengths >= min_run]
                n = int(pcm.size)
                out["media_id"].append(int(mid))
                out["n_silent"].append(int(silent.sum()))
                out["n_runs"].append(int(kept.size))
                out["longest_run"].append(
                    int(lengths.max()) if lengths.size else 0
                )
                out["silence_frac"].append(int(silent.sum()) / n if n else 0.0)
            yield pd.DataFrame(out)

    return (
        df.filter(F.col("kind") == "audio")
        .select("media_id", "payload")
        .mapInPandas(fn, schema=SILENCE_SCHEMA)
    )

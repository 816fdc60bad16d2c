"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The decode libraries (PIL/ffmpeg/librosa) are NOT in this container,
so the decode kernels are stubbed (deterministic fake or
NotImplementedError per the build brief) — but the Spark-side
contract is real and tested: schemas, Arrow batch shapes,
``mapInPandas`` signatures, partition sizing.

Scale notes: binary payloads dominate row size — keep them OUT of
shuffles (derive features first, drop the blob), size partitions by
``spark.sql.files.maxPartitionBytes`` so one task holds a bounded
number of blobs, and never collect() a binary column.
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
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

IMAGE_FEATURE_SCHEMA = (
    "media_id long, n_bytes long, payload_sha string, mean_byte double, feature array<float>"
)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake blobs for exercising the plumbing."""
    import hashlib

    rows = []
    for i in range(n):
        h = hashlib.md5(f"42:{i}".encode()).digest()
        payload = (h * 64)[: 512 + (i % 7) * 128]
        rows.append(
            (i, ["image", "audio", "video"][i % 3], "application/octet-stream",
             bytearray(payload), 64 + i % 32, 64, 1000 + i * 10)
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def synthetic_images(spark, n: int = 32, size: int = 16) -> DataFrame:
    """Deterministic REAL-decodable PNG blobs in MEDIA_SCHEMA — unlike
    :func:`synthetic_media`'s opaque bytes, these roundtrip through
    :func:`decode_image`, so the decode kernel is exercised end-to-end
    with no imaging dependency."""
    rng = np.random.default_rng(42)
    rows = []
    for i in range(n):
        h, w = size + (i % 3), size + (i % 5)
        c = (1, 3, 4)[i % 3]
        arr = rng.integers(0, 256, size=(h, w, c)).astype("uint8")
        rows.append(
            (i, "image", "image/png", bytearray(encode_png(arr)), w, h, None)
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode an image payload to an (H, W, C) uint8 array.

    Always-available paths (stdlib + numpy only — no imaging library
    needed): PNG (zlib inflate + per-scanline unfilter; 8-bit
    gray/gray-alpha/RGB/RGBA, non-interlaced) and binary PPM/PGM.
    Other formats (JPEG, ...) go through PIL when it is importable;
    without PIL they raise ``NotImplementedError`` — the documented
    optional-dependency seam (libjpeg is not re-implementable in
    stdlib, unlike PNG's DEFLATE)."""
    data = bytes(payload)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(data)
    if data[:2] in (b"P5", b"P6"):
        return _decode_pnm(data)
    try:
        import io

        from PIL import Image  # optional dependency
    except ImportError:
        raise NotImplementedError(
            "non-PNG/PNM image decode requires PIL, which is not present "
            "in this environment; PNG and binary PPM/PGM decode natively"
        ) from None
    return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))


def _decode_png(data: bytes) -> "np.ndarray":
    """Minimal PNG reader: IHDR/IDAT/IEND chunks, zlib inflate, filter
    reconstruction (types 0-4). Vectorized rows for filters 0/2; the
    serial filters (Sub/Average/Paeth) fall back to a per-byte loop —
    fine for thumbnail/feature-extract scale, and encoders we control
    emit filter 0."""
    import struct
    import zlib

    pos, idat, meta = 8, [], None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or interlace != 0 or color not in (0, 2, 4, 6):
                raise NotImplementedError(
                    "PNG subset: 8-bit depth, gray/RGB(+alpha), non-interlaced"
                )
            meta = (w, h, {0: 1, 2: 3, 4: 2, 6: 4}[color])
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if meta is None:
        raise ValueError("PNG without IHDR")
    w, h, c = meta
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG payload size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw[pos + 1 : pos + 1 + stride], dtype=np.uint8).astype(
            "int32"
        )
        pos += 1 + stride
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) % 256
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth — serial in x
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - c]) if x >= c else 0
                b = int(prev[x])
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    cc = int(prev[x - c]) if x >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                cur[x] = (line[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, c)


def _decode_pnm(data: bytes) -> "np.ndarray":
    """Binary PPM (P6, RGB) / PGM (P5, gray), 8-bit maxval."""
    tokens, pos = [], 0
    while len(tokens) < 4 and pos < len(data):
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(data[start:pos])
    magic, w, h, maxval = tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3])
    if maxval > 255:
        raise NotImplementedError("PNM subset: 8-bit maxval")
    pos += 1  # single whitespace after maxval
    c = 3 if magic == b"P6" else 1
    arr = np.frombuffer(data[pos : pos + w * h * c], dtype=np.uint8)
    return arr.reshape(h, w, c)


def encode_png(arr: "np.ndarray") -> bytes:
    """Minimal PNG writer (filter 0, one IDAT): gives tests and the
    synthetic generator REAL decodable payloads without an imaging
    dependency. Accepts (H, W) or (H, W, C) uint8 with C in 1/2/3/4."""
    import struct
    import zlib

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_audio(payload: bytes) -> tuple["np.ndarray", int]:
    """Decode a PCM WAV payload to ``(samples, sample_rate)`` — pure
    stdlib RIFF parsing, no audio library. ``samples`` is
    (n_frames, channels) float64 in [-1, 1]; 8-bit (unsigned) and
    16-bit (signed little-endian) PCM are supported. Other containers
    (MP3/FLAC/OGG need codec libraries) raise ``NotImplementedError``
    — the same optional-dependency seam as JPEG."""
    import struct

    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise NotImplementedError(
            "non-WAV audio decode requires a codec library not present "
            "in this environment; PCM WAV decodes natively"
        )
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_format, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if audio_format != 1:
                raise NotImplementedError("WAV subset: uncompressed PCM only")
            fmt = (channels, rate, bits)
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("WAV without fmt/data chunk")
    channels, rate, bits = fmt
    if bits == 16:
        # /32767 mirrors the encoder's round(x*32767): the roundtrip
        # error stays within half a quantization step
        samples = np.frombuffer(raw, dtype="<i2").astype("float64") / 32767.0
    elif bits == 8:
        samples = (np.frombuffer(raw, dtype="u1").astype("float64") - 128.0) / 128.0
    else:
        raise NotImplementedError("WAV subset: 8- or 16-bit PCM")
    n = len(samples) - len(samples) % channels
    return samples[:n].reshape(-1, channels), rate


def encode_wav(samples: "np.ndarray", sample_rate: int) -> bytes:
    """Minimal 16-bit PCM WAV writer for (n_frames,) or
    (n_frames, channels) float in [-1, 1] — gives tests and generators
    real decodable audio payloads."""
    import struct

    a = np.asarray(samples, dtype="float64")
    if a.ndim == 1:
        a = a[:, None]
    pcm = np.clip(np.rint(a * 32767.0), -32768, 32767).astype("<i2").tobytes()
    channels = a.shape[1]
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


AUDIO_DECODE_SCHEMA = (
    "media_id long, n_frames long, channels int, sample_rate int, "
    "duration_ms double, rms double, zero_crossing_rate double, error string"
)


def _blob_feature_rows(
    media: DataFrame,
    per_row,
    schema: str,
    batch_limit: int,
) -> DataFrame:
    """Shared ``mapInPandas`` scaffolding for every decode kernel:
    chunked Arrow batches, ``per_row(media_id, payload) ->
    list[tuple]`` per blob, per-blob error isolation. Blobs are
    UNTRUSTED bytes — a corrupt payload can raise ``struct.error``,
    ``zlib.error``, ``IndexError``, ``ZeroDivisionError``, ... from
    anywhere inside a parser, so ANY exception must land in the last
    (``error``) column rather than failing the task and aborting the
    whole job. One implementation of the contract; the three kernels
    only supply their per-blob feature function. Column names come
    from the DDL ``schema`` string itself, so row shape and declared
    Arrow schema cannot drift apart."""
    columns = [f.strip().split()[0] for f in schema.split(",")]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[start : start + batch_limit]
                rows = []
                for mid, payload in zip(chunk["media_id"], chunk["payload"]):
                    try:
                        rows.extend(per_row(int(mid), bytes(payload)))
                    except Exception as exc:  # noqa: BLE001 — untrusted blobs
                        rows.append(
                            (int(mid), *[None] * (len(columns) - 2),
                             f"{type(exc).__name__}: {exc}")
                        )
                yield pd.DataFrame(rows, columns=columns)

    return media.select("media_id", "payload").mapInPandas(kernel, schema=schema)


def audio_feature_extract(media: DataFrame) -> DataFrame:
    """REAL audio decode + features over ``mapInPandas``: duration,
    RMS level, zero-crossing rate (the cheap voiced/unvoiced signal
    proxy) per blob, with per-blob error isolation like the image
    kernel. Blobs stop here; downstream shuffles carry features only."""

    def per_row(mid: int, payload: bytes) -> list[tuple]:
        samples, rate = decode_audio(payload)
        mono = samples.mean(axis=1)
        zc = (
            float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
            if len(mono) > 1
            else 0.0
        )
        return [
            (
                mid,
                samples.shape[0],
                samples.shape[1],
                rate,
                1000.0 * samples.shape[0] / rate,
                float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0,
                zc,
                None,
            )
        ]

    return _blob_feature_rows(media, per_row, AUDIO_DECODE_SCHEMA, 256)


def encode_framepack(frames: list["np.ndarray"], fps: float = 10.0) -> bytes:
    """Minimal video container for pipeline testing: ``FPK1`` magic,
    fps, then length-prefixed PNG frames (an MJPEG-style intra-only
    stream). Real containers (MP4/H.264...) need ffmpeg — the
    documented optional-dependency seam; this keeps the frame-sampling
    and per-frame-decode plumbing REAL and testable without it."""
    import struct

    body = b"".join(
        struct.pack("<I", len(p)) + p for p in (encode_png(f) for f in frames)
    )
    return b"FPK1" + struct.pack("<dI", float(fps), len(frames)) + body


def decode_framepack(payload: bytes) -> tuple[list["np.ndarray"], float]:
    """Inverse of :func:`encode_framepack`; other video formats raise
    ``NotImplementedError`` (codec libraries absent)."""
    import struct

    data = bytes(payload)
    if data[:4] != b"FPK1":
        raise NotImplementedError(
            "real video containers need ffmpeg, which is not present in "
            "this environment; FPK1 framepacks decode natively"
        )
    fps, count = struct.unpack("<dI", data[4:16])
    frames, pos = [], 16
    for _ in range(count):
        (ln,) = struct.unpack("<I", data[pos : pos + 4])
        frames.append(decode_image(data[pos + 4 : pos + 4 + ln]))
        pos += 4 + ln
    return frames, fps


VIDEO_DECODE_SCHEMA = (
    "media_id long, frame_idx int, frame_ts_ms double, height int, "
    "width int, channels int, mean_pixel double, error string"
)


def video_frame_features(media: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL per-frame decode over ``mapInPandas``: each framepack blob
    explodes into one row per sampled frame (every ``every_n``-th) with
    shape + mean pixel — the row-explosion shape
    :func:`frame_sample_plan` declares, now fed by actual decoded
    frames. Per-blob error isolation; blobs never leave this stage."""

    def per_row(mid: int, payload: bytes) -> list[tuple]:
        frames, fps = decode_framepack(payload)
        return [
            (
                mid, i, 1000.0 * i / fps,
                frames[i].shape[0], frames[i].shape[1], frames[i].shape[2],
                float(frames[i].mean()), None,
            )
            for i in range(0, len(frames), max(every_n, 1))
        ]

    return _blob_feature_rows(media, per_row, VIDEO_DECODE_SCHEMA, 64)


IMAGE_DECODE_SCHEMA = (
    "media_id long, height int, width int, channels int, "
    "mean_pixel double, feature array<float>, error string"
)


def image_feature_extract(media: DataFrame, dim: int = 8) -> DataFrame:
    """REAL decode + feature extraction over ``mapInPandas``: each blob
    is decoded via :func:`decode_image` and reduced to (shape, mean
    pixel, ``dim``-bin pixel histogram). Decode failures (unsupported
    format without PIL, corrupt payload) land in the ``error`` column
    instead of failing the task — per-blob isolation, same contract as
    the EGARCH group fitter. Blobs never pass this stage: the output
    carries features only, so downstream shuffles move no binary."""

    def per_row(mid: int, payload: bytes) -> list[tuple]:
        img = decode_image(payload)
        px = img.reshape(-1).astype("float64")
        hist = np.histogram(px, bins=dim, range=(0, 256))[0].astype("float32")
        total = hist.sum() or 1.0
        return [
            (
                mid,
                img.shape[0],
                img.shape[1],
                img.shape[2],
                float(px.mean()),
                (hist / total).tolist(),
                None,
            )
        ]

    return _blob_feature_rows(media, per_row, IMAGE_DECODE_SCHEMA, 256)


def fake_feature_extract(media: DataFrame, dim: int = 8) -> DataFrame:
    """``mapInPandas`` feature extraction with a deterministic fake
    'decoder': byte-histogram moments as the feature vector. The real
    implementation swaps the kernel body, nothing else."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            for start in range(0, len(pdf), 256):
                chunk = pdf.iloc[start : start + 256]
                feats, shas, means, sizes = [], [], [], []
                for payload in chunk["payload"]:
                    b = np.frombuffer(bytes(payload), dtype=np.uint8)
                    sizes.append(len(b))
                    shas.append(hashlib.sha256(bytes(payload)).hexdigest()[:16])
                    means.append(float(b.mean()) if len(b) else 0.0)
                    hist = np.histogram(b, bins=dim, range=(0, 256))[0].astype("float32")
                    total = hist.sum() or 1.0
                    feats.append((hist / total).tolist())
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].to_numpy(),
                        "n_bytes": sizes,
                        "payload_sha": shas,
                        "mean_byte": means,
                        "feature": feats,
                    }
                )

    return media.select("media_id", "payload").mapInPandas(
        kernel, schema=IMAGE_FEATURE_SCHEMA
    )


def frame_sample_plan(
    media: DataFrame, every_ms: int = 500
) -> DataFrame:
    """Video frame-sampling PLAN: one output row per (media_id,
    frame_ts) on a regular grid up to duration — pure column algebra
    (sequence + explode); the decode of each frame is the stubbed
    kernel above. This is the real partition-explosion shape a video
    pipeline has to survive."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )

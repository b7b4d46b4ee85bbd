"""Multimodal columns: image/audio/video as opaque binary payloads with
typed metadata, processed by Arrow-batched pandas UDFs.

Decoding: uncompressed formats are decoded FOR REAL with stdlib/numpy only
— PCM WAV audio (wave module), PPM/PGM images, 24-bit uncompressed BMP,
and raw (headerless) video frames — via default_decoder, which sniffs the
payload's magic bytes. Compressed codecs (JPEG/PNG/MP3/H.264) need codec
libraries that are not in this container: for those, pass decoder= your
own callable; the built-in default raises NotImplementedError naming the
format it saw. The Spark-side plumbing (schema, Arrow batch iteration,
partition behavior, output shapes) is identical for both paths.

Canonical schema (media table):
    media_id: long, kind: string ('image'|'audio'|'video'),
    payload: binary, meta: struct<width:int, height:int, sample_rate:int,
    n_frames:int, codec:string>

Scale notes: payloads never ride a shuffle — every op here is a map stage
(mapInPandas) pipelined onto the scan; down-stream joins use media_id + the
extracted (small) feature vectors. Batch size is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch so a partition of large blobs
streams through the Python worker instead of materializing.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int, codec:string>"
)


def wav_audio_decoder(payload: bytes, meta) -> np.ndarray:
    """Real PCM WAV decode, stdlib-only (wave module + numpy): returns a
    mono float64 signal in [-1, 1] (channels averaged). Supports 8-bit
    unsigned and 16/32-bit signed PCM."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 1:
        x = np.frombuffer(frames, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 4:
        x = np.frombuffer(frames, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise NotImplementedError(f"unsupported PCM sample width {width}")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x


def ppm_image_decoder(payload: bytes, meta) -> np.ndarray:
    """Real binary PPM (P6, RGB) / PGM (P5, gray) decode, numpy-only:
    returns a (height, width) float64 grayscale image in [0, 1] (RGB
    averaged). Only maxval <= 255 (1-byte samples) is supported."""
    magic, rest = payload.split(None, 1)
    if magic not in (b"P5", b"P6"):
        raise NotImplementedError(f"not a binary PPM/PGM payload: {magic!r}")
    # header: width height maxval, whitespace separated, then ONE whitespace
    # byte, then the raster (comments '#...' allowed between tokens)
    tokens, pos = [], 0
    while len(tokens) < 3:
        while pos < len(rest) and rest[pos : pos + 1].isspace():
            pos += 1
        if pos >= len(rest):
            raise ValueError("truncated PPM/PGM header")
        if rest[pos : pos + 1] == b"#":
            nl = rest.find(b"\n", pos)
            if nl < 0:
                raise ValueError("truncated PPM/PGM header comment")
            pos = nl + 1
            continue
        end = pos
        while end < len(rest) and not rest[end : end + 1].isspace():
            end += 1
        if end >= len(rest):
            raise ValueError("truncated PPM/PGM header")
        tokens.append(int(rest[pos:end]))
        pos = end
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("PPM maxval > 255 (2-byte samples)")
    raster = np.frombuffer(rest, dtype=np.uint8, offset=pos + 1)
    if magic == b"P6":
        img = raster[: h * w * 3].reshape(h, w, 3).astype(np.float64).mean(axis=2)
    else:
        img = raster[: h * w].reshape(h, w).astype(np.float64)
    return img / float(maxval)


def bmp_image_decoder(payload: bytes, meta) -> np.ndarray:
    """Real uncompressed 24-bit BMP decode, stdlib-only: returns a
    (height, width) float64 grayscale image in [0, 1] (BGR averaged,
    bottom-up row order and 4-byte row padding handled)."""
    import struct

    if payload[:2] != b"BM":
        raise NotImplementedError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only uncompressed 24-bit BMP (got bpp={bpp})")
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    row_bytes = (w * 3 + 3) // 4 * 4
    raster = np.frombuffer(payload, dtype=np.uint8, offset=data_off)
    rows = raster[: h * row_bytes].reshape(h, row_bytes)[:, : w * 3]
    img = rows.reshape(h, w, 3).astype(np.float64).mean(axis=2) / 255.0
    return img[::-1] if flip else img


def raw_video_decoder(payload: bytes, meta) -> np.ndarray:
    """Real headerless (rawvideo) decode: uint8 luma frames of shape
    (meta.n_frames, meta.height * meta.width), scaled to [0, 1]."""
    n, h, w = int(meta["n_frames"]), int(meta["height"]), int(meta["width"])
    raster = np.frombuffer(payload, dtype=np.uint8)[: n * h * w]
    return raster.reshape(n, h * w).astype(np.float64) / 255.0


def default_decoder(payload: bytes, meta) -> np.ndarray:
    """Magic-byte-sniffing decoder: real decode for the uncompressed
    formats this container can handle (PCM WAV, PPM/PGM, 24-bit BMP,
    rawvideo via meta.codec); raises NotImplementedError naming the format
    for compressed codecs (pass decoder= a codec-lib-backed callable).

    The explicit meta.codec declaration takes precedence over content
    sniffing: a headerless raw frame whose first bytes happen to spell
    'BM'/'P6'/RIFF (guaranteed occurrences at corpus scale) must not be
    misrouted to an image/audio parser."""
    if meta is not None and (meta["codec"] or "") == "rawvideo":
        return raw_video_decoder(payload, meta)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return wav_audio_decoder(payload, meta)
    if payload[:2] in (b"P5", b"P6"):
        return ppm_image_decoder(payload, meta)
    if payload[:2] == b"BM":
        return bmp_image_decoder(payload, meta)
    raise NotImplementedError(
        f"no stdlib decoder for payload starting {payload[:8]!r} "
        f"(codec={meta['codec'] if meta is not None else None!r}); "
        "compressed codecs (JPEG/PNG/MP3/H.264) need a codec library - "
        "pass decoder= a callable (payload: bytes, meta: Row) -> np.ndarray"
    )


def fake_image_decoder(payload: bytes, meta) -> np.ndarray:
    """Deterministic stand-in decoder: expands the payload bytes into a
    (height, width) float image by tiling — stable across runs/partitions,
    so tests can assert exact feature values."""
    h = int(meta["height"] or 8)
    w = int(meta["width"] or 8)
    raw = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    if len(raw) == 0:
        raw = np.zeros(1)
    return np.resize(raw, (h, w)) / 255.0


def fake_audio_decoder(payload: bytes, meta) -> np.ndarray:
    raw = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    if len(raw) == 0:
        raw = np.zeros(1)
    return (raw - 127.5) / 127.5


def decode_features(
    df: DataFrame,
    extract: Callable[[np.ndarray], np.ndarray],
    decoder: Callable[[bytes, object], np.ndarray] = default_decoder,
    payload_col: str = "payload",
    meta_col: str = "meta",
    out_col: str = "features",
) -> DataFrame:
    """decode(payload, meta) → extract(array) → features per row.

    Pure map stage; payload and meta pass through unchanged.
    """
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(DoubleType()))]
    )
    cols = [f.name for f in df.schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, meta in zip(pdf[payload_col], pdf[meta_col]):
                arr = decoder(bytes(payload), meta)
                feats.append(np.asarray(extract(arr), dtype=np.float64))
            out = pdf[cols].copy()
            out[out_col] = feats
            yield out

    return df.mapInPandas(gen, schema)


def image_stats_extractor(img: np.ndarray) -> np.ndarray:
    """Example feature head: (mean, std, min, max, aspect, edge-energy)."""
    gy, gx = np.gradient(img.astype(np.float64))
    return np.array(
        [
            img.mean(),
            img.std(),
            img.min(),
            img.max(),
            img.shape[1] / img.shape[0],
            float(np.mean(gx * gx + gy * gy)),
        ]
    )


def resize_image(
    df: DataFrame,
    height: int,
    width: int,
    decoder: Callable = default_decoder,
    payload_col: str = "payload",
    meta_col: str = "meta",
    out_col: str = "pixels",
) -> DataFrame:
    """Decode + nearest-neighbor resize to (height, width), emitted as a
    flat array<double> (row-major). Deterministic (no interpolation libs)."""
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(DoubleType()))]
    )
    cols = [f.name for f in df.schema.fields]

    def gen(batches):
        for pdf in batches:
            out_px = []
            for payload, meta in zip(pdf[payload_col], pdf[meta_col]):
                img = decoder(bytes(payload), meta)
                ri = (np.arange(height) * img.shape[0] / height).astype(int)
                ci = (np.arange(width) * img.shape[1] / width).astype(int)
                out_px.append(img[np.ix_(ri, ci)].ravel())
            out = pdf[cols].copy()
            out[out_col] = out_px
            yield out

    return df.mapInPandas(gen, schema)


def sample_frames(
    df: DataFrame,
    every_n: int,
    decoder: Callable = default_decoder,
    payload_col: str = "payload",
    meta_col: str = "meta",
) -> DataFrame:
    """Video frame sampling: one OUTPUT ROW per kept frame (UDTF-shaped
    mapInPandas — variable-length output), carrying (media_id, frame_no,
    frame: array<double>)."""
    schema = StructType(
        [
            df.schema["media_id"],
            StructField("frame_no", LongType()),
            StructField("frame", ArrayType(DoubleType())),
        ]
    )

    def gen(batches):
        import mpds_spark  # noqa: F401  installs the worker fix-ups
        for pdf in batches:
            ids, frame_nos, frames = [], [], []
            for mid, payload, meta in zip(
                pdf["media_id"], pdf[payload_col], pdf[meta_col]
            ):
                video = decoder(bytes(payload), meta)  # (n_frames, h*w)
                for fno in range(0, video.shape[0], every_n):
                    ids.append(mid)
                    frame_nos.append(fno)
                    frames.append(video[fno].astype(np.float64))
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": frame_nos, "frame": frames}
            )

    return df.mapInPandas(gen, schema)


# ---------------------------------------------------------------- encoders
# Sink-side twins of the stdlib decoders above: build real container bytes
# so tests and catalog queries can drive the full encode -> decode ->
# extract path with payloads whose ground truth is a closed-form formula.


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """Real RIFF/WAVE container around mono 16-bit PCM samples (stdlib
    wave module). Roundtrip contract: wav_audio_decoder(encode_wav_pcm16(s))
    == s/32768 exactly."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(int(sample_rate))
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def encode_bmp24(px: np.ndarray) -> bytes:
    """Real uncompressed 24-bit BMP around a (h, w, 3) uint8 array
    (logical top-down row order; stored bottom-up with 4-byte row padding,
    exactly what bmp_image_decoder undoes). Roundtrip contract:
    bmp_image_decoder(encode_bmp24(px)) == px.mean(axis=2)/255 exactly."""
    import struct

    px = np.asarray(px, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = (w * 3 + 3) // 4 * 4
    raster = np.zeros((h, row_bytes), dtype=np.uint8)
    raster[:, : w * 3] = px.reshape(h, w * 3)[::-1]  # bottom-up storage
    data = raster.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + info + data

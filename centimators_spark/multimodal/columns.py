"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with Arrow-batched decode/feature plumbing.

Design for 100 TB of media:
- payloads are ``BinaryType`` columns (or (path, offset, length)
  pointers into object-store blobs), metadata is a typed struct column
  (modality, format, width/height/duration, byte size) so partition
  pruning and filters run WITHOUT touching bytes;
- decode / resize / feature-extract / frame-sample run as
  ``mapInPandas`` stages — map-side only, no shuffle, Arrow moves the
  binary batches; executors hold the codec libraries.

Codec libraries (PIL/ffmpeg/librosa) are optional: uncompressed BMP,
WAV and the RAWV video container decode in pure numpy, and rows in a
format no available codec reads come back with null fields (or no
frames) instead of failing the batch, so schema, batching and null
handling stay real and testable without them.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("modality", StringType()),
        StructField("format", StringType()),
        StructField("n_bytes", LongType()),
    ]
)


def read_binary_dir(
    spark: SparkSession, path: str, glob: str = "*"
) -> DataFrame:
    """Binary files as (path, modificationTime, length, content) via the
    built-in binaryFile source (pushdown on pathGlobFilter)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


_MAGIC = {
    b"\x89PNG": ("image", "png"),
    b"\xff\xd8\xff": ("image", "jpeg"),
    b"BM": ("image", "bmp"),
    b"GIF8": ("image", "gif"),
    b"RIFF": ("audio", "wav"),
    b"OggS": ("audio", "ogg"),
    b"\x00\x00\x00\x18ftyp": ("video", "mp4"),
    b"\x00\x00\x00\x20ftyp": ("video", "mp4"),
}


def _sniff(content: bytes) -> tuple[str, str]:
    for magic, (modality, fmt) in _MAGIC.items():
        if content[: len(magic)] == magic:
            return modality, fmt
    return "unknown", "unknown"


def with_media_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Attach a typed metadata struct (modality/format/n_bytes) sniffed
    from magic bytes — filters on metadata then prune without decoding."""
    out_schema = StructType(list(df.schema) + [StructField("media", MEDIA_META)])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for content in pdf[content_col]:
                if content is None:
                    metas.append(None)
                else:
                    b = bytes(content)
                    modality, fmt = _sniff(b)
                    metas.append(
                        {"modality": modality, "format": fmt, "n_bytes": len(b)}
                    )
            out = pdf.copy()
            out["media"] = metas
            yield out

    return df.mapInPandas(compute, out_schema)


_DECODED_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixels", ArrayType(FloatType())),
    ]
)


def decode_images(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    resize: tuple[int, int] | None = None,
) -> DataFrame:
    """Decode image bytes → (path, width, height, pixels float array in
    [0,1], RGB row-major), optional nearest-neighbor ``resize=(w, h)``.

    REAL decode for uncompressed 24/32-bit BMP — pure numpy, no codec
    library (parse the BITMAPINFOHEADER, strip row padding, BGR→RGB).
    Compressed formats (png/jpeg/gif) decode via PIL when executors have
    it; without PIL those rows emit null dimensions rather than failing
    the batch, so a mixed corpus still processes its BMP fraction —
    the same degradation contract as ``decode_audio``."""
    narrow = df.select(F.col(path_col).alias("path"), F.col(content_col).alias("c"))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            from PIL import Image  # type: ignore
        except ImportError:
            Image = None
        for pdf in batches:
            rows = {"path": [], "width": [], "height": [], "pixels": []}
            for path, content in zip(pdf["path"], pdf["c"]):
                rows["path"].append(path)
                b = bytes(content) if content is not None else b""
                arr = _parse_bmp(b)
                if arr is None and Image is not None:  # pragma: no cover - no PIL here
                    import io

                    try:
                        arr = np.asarray(
                            Image.open(io.BytesIO(b)).convert("RGB"), dtype=np.float32
                        ) / 255.0
                    except Exception:
                        arr = None
                if arr is None:
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["pixels"].append(None)
                    continue
                if resize:
                    arr = _resize_nearest(arr, resize[0], resize[1])
                h, w = arr.shape[:2]
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixels"].append(arr.astype(np.float32).ravel())
            yield pd.DataFrame(rows)

    return narrow.mapInPandas(compute, _DECODED_SCHEMA)


def _parse_bmp(b: bytes):
    """h×w×3 float32 RGB array in [0,1] from an uncompressed (BI_RGB)
    24/32-bit BMP, or None when not parseable. Handles bottom-up and
    top-down (negative height) layouts and 4-byte row padding; never
    raises — one corrupt file must not fail the whole Arrow batch."""
    try:
        if len(b) < 54 or b[:2] != b"BM":
            return None
        (data_off,) = struct.unpack("<I", b[10:14])
        (hdr_size,) = struct.unpack("<I", b[14:18])
        if hdr_size < 40:  # BITMAPCOREHEADER etc. — out of scope
            return None
        w, h_raw = struct.unpack("<ii", b[18:26])
        planes, bits = struct.unpack("<HH", b[26:30])
        (compression,) = struct.unpack("<I", b[30:34])
        if compression != 0 or bits not in (24, 32) or w <= 0 or h_raw == 0:
            return None
        h = abs(h_raw)
        nch = bits // 8
        stride = (w * nch + 3) // 4 * 4
        need = stride * h
        px = b[data_off : data_off + need]
        if len(px) < need:
            return None
        a = np.frombuffer(px, dtype=np.uint8).reshape(h, stride)[:, : w * nch]
        a = a.reshape(h, w, nch)
        if h_raw > 0:  # bottom-up storage → flip to row-major top-down
            a = a[::-1]
        rgb = a[:, :, 2::-1]  # BGR(A) → RGB, alpha dropped
        return rgb.astype(np.float32) / 255.0
    except Exception:
        return None


def _resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (the deterministic, dependency-free
    kernel; swap for PIL/cv2 interpolation when executors have them)."""
    h, w = arr.shape[:2]
    yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return arr[yi][:, xi]


def extract_image_features(
    decoded: DataFrame, n_features: int = 8
) -> DataFrame:
    """Feature vector per decoded image (deterministic moments of the
    pixel array — a stand-in for a CNN/CLIP embedding stage; swap the
    kernel, keep the plumbing)."""
    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("features", ArrayType(FloatType())),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for px in pdf["pixels"]:
                a = np.asarray(px, dtype=np.float64)
                if a.size == 0:
                    feats.append(np.zeros(n_features, dtype=np.float32))
                    continue
                moments = [
                    a.mean(),
                    a.std(),
                    a.min(),
                    a.max(),
                    np.median(a),
                    float(np.quantile(a, 0.25)),
                    float(np.quantile(a, 0.75)),
                    float(a.sum() % 1.0),
                ]
                feats.append(np.asarray(moments[:n_features], dtype=np.float32))
            yield pd.DataFrame({"path": pdf["path"], "features": feats})

    return decoded.mapInPandas(compute, schema)


_AUDIO_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", FloatType()),
        StructField("rms", FloatType()),
        StructField("zero_crossing_rate", FloatType()),
    ]
)


def decode_audio(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """REAL audio decode for WAV/RIFF PCM — pure numpy, no codec
    library: parse the fmt/data chunks, reinterpret the payload as
    int16/int32/float32 samples, emit per-file acoustic features
    (duration, RMS level, zero-crossing rate). Compressed formats
    (mp3/ogg/flac) need librosa/ffmpeg on executors — those rows decode
    to nulls rather than failing the batch, so a mixed corpus still
    processes its PCM fraction. Map-side only; Arrow moves the bytes."""
    narrow = df.select(F.col(path_col).alias("path"), F.col(content_col).alias("c"))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in _AUDIO_SCHEMA}
            for path, content in zip(pdf["path"], pdf["c"]):
                parsed = _parse_wav(bytes(content)) if content is not None else None
                rows["path"].append(path)
                if parsed is None:
                    for k in (
                        "sample_rate",
                        "n_channels",
                        "n_samples",
                        "duration_s",
                        "rms",
                        "zero_crossing_rate",
                    ):
                        rows[k].append(None)
                    continue
                sr, nch, samples = parsed
                n = len(samples)
                rows["sample_rate"].append(sr)
                rows["n_channels"].append(nch)
                rows["n_samples"].append(n)
                rows["duration_s"].append(n / sr if sr else 0.0)
                rows["rms"].append(float(np.sqrt(np.mean(samples**2))) if n else 0.0)
                rows["zero_crossing_rate"].append(
                    float(np.mean(np.signbit(samples[1:]) != np.signbit(samples[:-1])))
                    if n > 1
                    else 0.0  # <2 samples: no crossings (avoids mean-of-empty NaN)
                )
            yield pd.DataFrame(rows)

    return narrow.mapInPandas(compute, _AUDIO_SCHEMA)


def _parse_wav(b: bytes):
    """(sample_rate, n_channels, mono float64 samples in [-1,1]) from a
    RIFF/WAVE byte string, or None when not parseable PCM. Truncated or
    malformed chunks return None (never raise) — one corrupt file in a
    mixed corpus must not fail the whole batch."""
    try:
        if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            return None
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            body = b[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                if len(body) < 16:  # truncated fmt chunk
                    return None
                fmt = struct.unpack("<HHIIHH", body[:16])
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            return None
        audio_format, nch, sr, _, _, bits = fmt
        if sr <= 0 or nch <= 0:
            return None
        width = {(1, 16): 2, (1, 32): 4, (3, 32): 4}.get((audio_format, bits))
        if width is None:  # compressed / unusual PCM widths need a real codec
            return None
        data = data[: len(data) // width * width]  # drop a trailing partial sample
        if audio_format == 1 and bits == 16:
            samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif audio_format == 1 and bits == 32:
            samples = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
        else:
            samples = np.frombuffer(data, dtype="<f4").astype(np.float64)
        if nch > 1:  # interleaved → mono mean, the standard analysis fold
            samples = samples[: len(samples) // nch * nch].reshape(-1, nch).mean(axis=1)
        return sr, nch, samples
    except Exception:
        return None


RAWV_MAGIC = b"RAWV"


def encode_rawv(frames: "np.ndarray") -> bytes:
    """Pack (n, h, w, 3) uint8 frames into the deterministic RAWV test
    container: magic + uint16 w,h + uint32 n + raw RGB frames. The
    fixture format that makes the video plumbing fully testable
    without a codec library."""
    import struct

    n, h, w, c = frames.shape
    assert c == 3
    return (
        RAWV_MAGIC
        + struct.pack("<HHI", w, h, n)
        + frames.astype(np.uint8).tobytes()
    )


def _parse_rawv(b: bytes):
    import struct

    if len(b) < 12 or b[:4] != RAWV_MAGIC:
        return None
    w, h, n = struct.unpack("<HHI", b[4:12])
    need = 12 + n * h * w * 3
    if len(b) < need or w == 0 or h == 0:
        return None
    arr = np.frombuffer(b[12:need], dtype=np.uint8).reshape(n, h, w, 3)
    return arr


def sample_video_frames(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    every_n: int = 30,
) -> DataFrame:
    """Frame sampling over binary video columns: one output row per
    sampled frame (every ``every_n``-th, frame 0 included) —
    (path, frame_index, width, height, frame float array in [0,1]).

    REAL decode for the RAWV container (:func:`encode_rawv` — pure
    numpy, the deterministic fixture format that keeps the schema,
    Arrow batch shape, and fan-out fully tested in this environment).
    Real codecs (mp4/webm) decode via PyAV when executors have it;
    without it those rows DEGRADE TO NO OUTPUT ROWS rather than
    failing the batch — the same contract as decode_images/
    decode_audio. The Spark shape is what matters at 100 TB: Arrow
    batches in, per-row frame fan-out out, no driver involvement."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("frame_index", IntegerType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("frame", ArrayType(FloatType())),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # pragma: no cover - av not in this container
            import av  # type: ignore
        except ImportError:
            av = None
        for pdf in batches:
            rows = {
                "path": [], "frame_index": [], "width": [], "height": [],
                "frame": [],
            }
            for path, content in zip(pdf["path"], pdf["c"]):
                b = bytes(content) if content is not None else b""
                arr = _parse_rawv(b)
                if arr is None and av is not None:  # pragma: no cover
                    try:
                        import io

                        frames = []
                        with av.open(io.BytesIO(b)) as container:
                            for fr in container.decode(video=0):
                                frames.append(fr.to_ndarray(format="rgb24"))
                        arr = np.stack(frames) if frames else None
                    except Exception:
                        arr = None
                if arr is None:
                    continue  # undecodable: no rows, batch survives
                for i in range(0, arr.shape[0], every_n):
                    fr = arr[i]
                    rows["path"].append(path)
                    rows["frame_index"].append(i)
                    rows["height"].append(fr.shape[0])
                    rows["width"].append(fr.shape[1])
                    rows["frame"].append(
                        (fr.astype(np.float32) / 255.0).ravel()
                    )
            # explicit object dtype: an all-skipped batch would
            # otherwise build empty float64 columns Arrow cannot cast
            # to list<float>
            yield pd.DataFrame(
                {
                    "path": pd.Series(rows["path"], dtype=object),
                    "frame_index": pd.Series(rows["frame_index"], dtype="int64"),
                    "width": pd.Series(rows["width"], dtype="int64"),
                    "height": pd.Series(rows["height"], dtype="int64"),
                    "frame": pd.Series(rows["frame"], dtype=object),
                }
            )

    narrow = df.select(F.col(path_col).alias("path"), F.col(content_col).alias("c"))
    return narrow.mapInPandas(compute, schema)

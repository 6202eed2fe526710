"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The engine treats media as ``struct<content: binary, media_type:
string, meta: struct<...>>`` rows in ordinary parquet — at 100 TB this
is the standard "BLOBs in columnar files" layout: parquet keeps binary
pages un-encoded, predicate pushdown still prunes on the metadata
columns, and partitioning on ``media_type``/date keeps scans selective.

Decode / feature-extraction run as Arrow-batched ``mapInPandas``
operators: whole binary batches cross the JVM↔Python boundary once per
batch (not per row).  Compressed codecs (PIL/ffmpeg/etc.) are not
dependencies, so ``extract_features``' ``_fake_feature`` is the
deterministic stand-in that keeps the plumbing (schema, batching,
partitioning) testable; the raw-raster formats (PPM, PGM, BMP, WAV)
decode for real with numpy alone.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id long, media_type string, n_bytes long, checksum string, feature array<double>"
_FEATURE_DIMS = 4


def attach_media(docs: DataFrame) -> DataFrame:
    """Synthesize a media column from the documents table (UTF-8 bytes
    of ``text`` stand in for image content); real deployments read
    binary columns straight from parquet."""
    content = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col("doc_id"),
        content.alias("content"),
        F.lit("image/fake").alias("media_type"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_feature(content: bytes) -> list[float]:
    """Deterministic stand-in feature: byte-sum folded into
    ``_FEATURE_DIMS`` buckets (replaces a CNN embedding)."""
    acc = [0] * _FEATURE_DIMS
    for i, b in enumerate(content):
        acc[i % _FEATURE_DIMS] += b
    total = float(sum(acc)) or 1.0
    return [a / total for a in acc]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary content.

    ``mapInPandas`` keeps the per-batch pandas DataFrame shape: the UDF
    sees whole columns of binary values, exactly how a real decoder
    would consume them."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(c) for c in pdf["content"]],
                    "checksum": [hashlib.md5(c).hexdigest() for c in pdf["content"]],
                    "feature": [_fake_feature(c) for c in pdf["content"]],
                }
            )
            yield out

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL decode path for a codec-free format: binary PPM (P6).
#
# With no PIL/ffmpeg, compressed formats have no decoder — but P6 PPM
# is a pure header + raw RGB layout that numpy decodes by itself, which
# makes the WHOLE pipeline (binary column → Arrow batch → decode →
# per-image features) real instead of a fake end to end.
# ---------------------------------------------------------------------------


def encode_ppm(arr) -> bytes:
    """(h, w, 3) uint8 array → binary PPM (P6) bytes."""
    import numpy as np

    a = np.asarray(arr, dtype="uint8")
    h, w, c = a.shape
    assert c == 3, "PPM P6 is RGB"
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def decode_ppm(content: bytes):
    """Binary PPM (P6) bytes → (width, height, (h,w,3) uint8 array).
    Handles whitespace and ``#`` comments in the header per the spec."""
    import numpy as np

    if not content.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    tokens, i = [], 2
    while len(tokens) < 3:
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":
            while i < len(content) and content[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(content) and not content[j : j + 1].isspace():
            j += 1
        tokens.append(int(content[i:j]))
        i = j
    i += 1  # the single whitespace byte after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    arr = np.frombuffer(content, dtype=np.uint8, offset=i, count=w * h * 3)
    return w, h, arr.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# REAL decode path for audio: WAV (RIFF) with 16-bit PCM.
#
# Like PPM for images, canonical WAV is header + raw samples — numpy
# decodes it with no codec library, so the audio pipeline (binary
# column → Arrow batch → decode → per-clip features) is real end to
# end for uncompressed audio; compressed formats (mp3/opus) keep the
# documented ``NotImplementedError`` swap-in point.
# ---------------------------------------------------------------------------

AUDIO_STATS_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, n_samples long, "
    "duration_s double, rms double, peak double"
)


def encode_wav(samples, sample_rate: int = 16000) -> bytes:
    """int16 array (n,) mono or (n, ch) → canonical RIFF/WAVE bytes."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype="<i2")
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    data = a.tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(content: bytes):
    """RIFF/WAVE 16-bit PCM bytes → (sample_rate, (n, ch) int16 array).
    Walks the chunk list (a real WAV may carry LIST/fact chunks before
    data); only format tag 1 (PCM) at 16 bits is supported."""
    import struct

    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, fmt, data = 12, None, None
    while i + 8 <= len(content):
        cid = content[i : i + 4]
        (size,) = struct.unpack("<I", content[i + 4 : i + 8])
        body = content[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    tag, ch, rate, _, _, bits = fmt
    if tag != 1 or bits != 16:
        raise ValueError(f"only 16-bit PCM supported (tag={tag}, bits={bits})")
    arr = np.frombuffer(data, dtype="<i2")
    return rate, arr.reshape(-1, ch)


def audio_stats(media: DataFrame) -> DataFrame:
    """Per-clip sample rate / duration / RMS / peak via REAL WAV
    decode, Arrow-batched like ``image_stats_any``; non-WAV payloads yield
    NULL stats (permissive-read — bad media never kills the batch)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            rows = {"doc_id": pdf["doc_id"], "sample_rate": [], "n_channels": [],
                    "n_samples": [], "duration_s": [], "rms": [], "peak": []}
            for content in pdf["content"]:
                try:
                    rate, arr = decode_wav(bytes(content))
                    x = arr.astype("float64") / 32768.0
                    rows["sample_rate"].append(rate)
                    rows["n_channels"].append(arr.shape[1])
                    rows["n_samples"].append(arr.shape[0])
                    rows["duration_s"].append(arr.shape[0] / rate)
                    rows["rms"].append(float(np.sqrt((x**2).mean())))
                    rows["peak"].append(float(np.abs(x).max()))
                except (ValueError, IndexError, ZeroDivisionError, struct.error):
                    for k in ("sample_rate", "n_channels", "n_samples",
                              "duration_s", "rms", "peak"):
                        rows[k].append(None)
            yield pd.DataFrame(rows)

    return media.select("doc_id", "content").mapInPandas(
        op, schema=AUDIO_STATS_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL decode paths, round 5: PGM (P5 grayscale) and BMP (24-bit
# BI_RGB).  Both are header + raw raster formats numpy decodes without
# a codec library — PGM is the single-channel twin of P6, and BMP adds
# the three honest quirks of a real container: BGR byte order, 4-byte
# row stride padding, and bottom-up row storage.  ``sniff_format`` +
# ``image_stats_any`` give the ingest path one mixed-format
# binary column, which is how a real media lake arrives.
# ---------------------------------------------------------------------------


def encode_pgm(arr) -> bytes:
    """(h, w) uint8 array → binary PGM (P5) bytes."""
    import numpy as np

    a = np.asarray(arr, dtype="uint8")
    h, w = a.shape
    return b"P5\n%d %d\n255\n" % (w, h) + a.tobytes()


def decode_pgm(content: bytes):
    """Binary PGM (P5) bytes → (width, height, (h,w) uint8 array)."""
    import numpy as np

    if not content.startswith(b"P5"):
        raise ValueError("not a P5 PGM")
    tokens, i = [], 2
    while len(tokens) < 3:
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":
            while i < len(content) and content[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(content) and not content[j : j + 1].isspace():
            j += 1
        tokens.append(int(content[i:j]))
        i = j
    i += 1
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    arr = np.frombuffer(content, dtype=np.uint8, offset=i, count=w * h)
    return w, h, arr.reshape(h, w)


def encode_bmp(arr) -> bytes:
    """(h, w, 3) uint8 RGB array → 24-bit BI_RGB BMP bytes, with the
    format's real storage quirks: BGR channel order, rows padded to a
    4-byte stride, bottom row first."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype="uint8")
    h, w, c = a.shape
    assert c == 3
    stride = (w * 3 + 3) & ~3
    pad = stride - w * 3
    bgr = a[::-1, :, ::-1]  # bottom-up rows, BGR channels
    body = b"".join(bytes(row.tobytes()) + b"\x00" * pad for row in bgr)
    pixel_offset = 14 + 40
    file_size = pixel_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pixel_offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + dib + body


def decode_bmp(content: bytes):
    """24-bit BI_RGB BMP bytes → (width, height, (h,w,3) uint8 RGB
    array).  Validates the BITMAPINFOHEADER, undoes stride padding,
    bottom-up order, and BGR."""
    import struct

    import numpy as np

    if not content.startswith(b"BM"):
        raise ValueError("not a BMP")
    try:
        pixel_offset = struct.unpack_from("<I", content, 10)[0]
        hdr_size, w, h, planes, bpp, compression = struct.unpack_from(
            "<IiiHHI", content, 14
        )
    except struct.error as exc:  # truncated header → permissive-read NULL
        raise ValueError(str(exc)) from exc
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BI_RGB supported")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(content, dtype=np.uint8, offset=pixel_offset,
                        count=stride * h).reshape(h, stride)
    bgr = raw[:, : w * 3].reshape(h, w, 3)
    rgb = bgr[:, :, ::-1]
    if bottom_up:
        rgb = rgb[::-1]
    return w, h, np.ascontiguousarray(rgb)


def sniff_format(content: bytes) -> str | None:
    """Magic-byte format sniff for the mixed-media binary column."""
    if content[:2] == b"P6":
        return "ppm"
    if content[:2] == b"P5":
        return "pgm"
    if content[:2] == b"BM":
        return "bmp"
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return "wav"
    return None


MIXED_IMAGE_STATS_SCHEMA = (
    "doc_id long, format string, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def image_stats_any(media: DataFrame) -> DataFrame:
    """Per-image stats over a MIXED-format binary column (P6 PPM, P5
    PGM, 24-bit BMP): magic-byte sniff, format-appropriate real numpy
    decode, shared stats contract (grayscale reports its mean on all
    three channels).  Undecodable payloads yield NULL stats with a NULL
    format — the permissive-read discipline.  Arrow-batched
    ``mapInPandas`` like every decode path here: Python sees whole
    columns of payloads once, never a per-row UDF."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"], "format": [], "width": [],
                   "height": [], "mean_r": [], "mean_g": [], "mean_b": []}
            for content in pdf["content"]:
                b = bytes(content)
                fmt = sniff_format(b)
                try:
                    if fmt == "ppm":
                        w, h, arr = decode_ppm(b)
                        m = arr.reshape(-1, 3).mean(axis=0)
                        vals = (float(m[0]), float(m[1]), float(m[2]))
                    elif fmt == "pgm":
                        w, h, arr = decode_pgm(b)
                        g = float(arr.mean())
                        vals = (g, g, g)
                    elif fmt == "bmp":
                        w, h, arr = decode_bmp(b)
                        m = arr.reshape(-1, 3).mean(axis=0)
                        vals = (float(m[0]), float(m[1]), float(m[2]))
                    else:
                        raise ValueError("unknown format")
                    out["format"].append(fmt)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_r"].append(vals[0])
                    out["mean_g"].append(vals[1])
                    out["mean_b"].append(vals[2])
                except (ValueError, IndexError):
                    out["format"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["mean_r"].append(None)
                    out["mean_g"].append(None)
                    out["mean_b"].append(None)
            yield pd.DataFrame(out)

    return media.select("doc_id", "content").mapInPandas(
        op, schema=MIXED_IMAGE_STATS_SCHEMA
    )

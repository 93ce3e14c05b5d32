"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side plumbing — schema, partition-preserving ``mapInPandas``
over Arrow batches, UDF signatures, batch shaping — is real and tested,
and so is the image decode for the two formats a pure-stdlib decoder can
handle: **PNG** (zlib + all five scanline filters, 8-bit gray/RGB/RGBA)
and **uncompressed BMP** (BI_RGB 8/24/32bpp). Anything else (JPEG, audio,
video) needs codec libraries not present in this container and is flagged
per-row with ``feature_ok = 0`` — a 100 TB pipeline flags undecodable rows
instead of killing the job. ``fake=True`` keeps the byte-statistics
stand-in used by the plumbing tests.

At 100 TB: media bytes dominate row size, so the design rules are
(1) never shuffle the binary column — extract features first, then drop it;
(2) ``mapInPandas`` with bounded ``spark.sql.execution.arrow.maxRecordsPerBatch``
keeps per-batch memory flat; (3) store media in its own table keyed by
content hash and join features, not bytes.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", LongType()),  # -1 when unknown/not applicable
        StructField("height", LongType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("feature_ok", LongType()),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples/pixel


def encode_png(width: int, height: int, pixels: bytes) -> bytes:
    """Minimal 8-bit grayscale PNG encoder (filter 0 scanlines, one IDAT) —
    deterministic synthetic inputs for the decoder tests/queries."""
    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes (8-bit gray)")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Reverse PNG scanline filtering (types 0-4) → raw sample bytes."""
    stride = width * bpp
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter {ftype}")
        out += line
        prev = line
    return out


def decode_png(blob: bytes) -> tuple[int, int, float]:
    """Decode an 8-bit gray/gray+alpha/RGB/RGBA non-interlaced PNG →
    (width, height, mean sample value). stdlib only (struct + zlib)."""
    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, channels = 8, 0, 0, 0
    idat = bytearray()
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        typ = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if typ == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color not in _PNG_CHANNELS or interlace != 0:
                raise ValueError(f"unsupported PNG (depth={depth} color={color})")
            channels = _PNG_CHANNELS[color]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    samples = _png_unfilter(zlib.decompress(bytes(idat)), width, height, channels)
    return width, height, (sum(samples) / len(samples) if samples else 0.0)


def decode_bmp(blob: bytes) -> tuple[int, int, float]:
    """Decode an uncompressed (BI_RGB) 8/24/32bpp BMP → (width, height,
    mean sample value); row padding excluded from the mean."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", blob[10:14])
    width, height_raw = struct.unpack("<ii", blob[18:26])
    (bpp,) = struct.unpack("<H", blob[28:30])
    (compression,) = struct.unpack("<I", blob[30:34])
    if compression != 0 or bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp} compression={compression})")
    height = abs(height_raw)
    bytes_per_px = bpp // 8
    stride = ((width * bytes_per_px + 3) // 4) * 4
    total, n = 0, 0
    for y in range(height):
        row = blob[data_off + y * stride : data_off + y * stride + width * bytes_per_px]
        total += sum(row)
        n += len(row)
    return width, height, (total / n if n else 0.0)


# The image decoders: (sniff(bytes) -> bool, decode(bytes) -> (width,
# height, mean_px)), tried in order. ``sniff`` reads header bytes only.
_IMAGE_FORMATS = (
    (lambda b: b[:8] == _PNG_SIG, decode_png),
    (lambda b: b[:2] == b"BM", decode_bmp),
)


def decode_image_batch(content: "pd.Series", fake: bool) -> "pd.DataFrame":
    """Decode a batch of image bytes → (n_bytes, content_hash, width,
    height, mean_px, feature_ok).

    Real mode tries the stdlib PNG and uncompressed BMP decoders; rows
    neither claims, or whose decode raises, come back with
    ``feature_ok=0`` and -1 dimensions — the flag-don't-fail contract for
    undecodable media. ``fake=True`` runs the byte-statistics stand-in
    (same output shape, no format requirement) used to exercise the
    distributed plumbing.
    """
    sizes, hashes, widths, heights, means, oks = [], [], [], [], [], []
    for blob in content:
        b = bytes(blob) if blob is not None else b""
        sizes.append(len(b))
        hashes.append(hashlib.md5(b).hexdigest())
        if fake:
            widths.append(-1)
            heights.append(-1)
            means.append(sum(b) / len(b) if b else 0.0)
            oks.append(1 if b else 0)
            continue
        try:
            for sniff, decode in _IMAGE_FORMATS:
                if sniff(b):
                    w, h, m = decode(b)
                    break
            else:
                raise ValueError("unknown image format")
            widths.append(w)
            heights.append(h)
            means.append(m)
            oks.append(1)
        except Exception:
            widths.append(-1)
            heights.append(-1)
            means.append(0.0)
            oks.append(0)
    return pd.DataFrame(
        {
            "n_bytes": sizes,
            "content_hash": hashes,
            "width": widths,
            "height": heights,
            "mean_px": means,
            "feature_ok": oks,
        }
    )


def extract_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """Feature extraction over media rows via ``mapInPandas`` — Arrow
    batches in, Arrow batches out; the binary column is dropped on output
    so nothing downstream shuffles bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = decode_image_batch(pdf["content"], fake=fake)
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                }
            )
            yield pd.concat([out, feats], axis=1)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


_WAV_FMT_PCM16 = 1


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Minimal RIFF/WAVE PCM16LE mono encoder — deterministic synthetic
    audio for the decoder tests/queries."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH", _WAV_FMT_PCM16, 1, sample_rate, sample_rate * 2, 2, 16
    )
    body = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(blob: bytes) -> tuple[int, int, float, int]:
    """Decode PCM16 mono RIFF/WAVE → (sample_rate, n_samples, rms,
    zero_crossings). stdlib only; a real audio decoder, not a stub —
    compressed formats (MP3/AAC/OGG) need codec libs absent here and are
    flagged ``feature_ok=0`` by the batch wrapper instead.

    zero_crossings counts sign flips between consecutive samples, where
    "nonnegative" is one sign class (SQL-recomputable definition).
    """
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    rate, data = 0, b""
    while pos + 8 <= len(blob):
        typ = blob[pos : pos + 4]
        (length,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        payload = blob[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # RIFF chunks are 2-byte aligned
        if typ == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", payload[:8])
            (bits,) = struct.unpack("<H", payload[14:16])
            if audio_fmt != _WAV_FMT_PCM16 or channels != 1 or bits != 16:
                raise ValueError("unsupported WAV (need PCM16 mono)")
        elif typ == b"data":
            data = payload
    n = len(data) // 2
    samples = struct.unpack(f"<{n}h", data[: n * 2])
    rms = (sum(s * s for s in samples) / n) ** 0.5 if n else 0.0
    zc = sum(
        1 for i in range(1, n) if (samples[i] >= 0) != (samples[i - 1] >= 0)
    )
    return rate, n, rms, zc


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("rms", DoubleType()),
        StructField("zero_crossings", LongType()),
        StructField("feature_ok", LongType()),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction (duration, RMS energy, zero-crossing rate)
    via ``mapInPandas`` — same binary-hygiene rules as the image path:
    bytes never shuffle, undecodable rows are flagged, not fatal."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in AUDIO_FEATURE_SCHEMA.fieldNames()}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob) if blob is not None else b""
                rows["media_id"].append(int(mid))
                rows["n_bytes"].append(len(b))
                try:
                    rate, n, rms, zc = decode_wav(b)
                    rows["sample_rate"].append(rate)
                    rows["n_samples"].append(n)
                    rows["duration_ms"].append(int(n * 1000 // rate) if rate else -1)
                    rows["rms"].append(rms)
                    rows["zero_crossings"].append(zc)
                    rows["feature_ok"].append(1)
                except Exception:
                    rows["sample_rate"].append(-1)
                    rows["n_samples"].append(-1)
                    rows["duration_ms"].append(-1)
                    rows["rms"].append(0.0)
                    rows["zero_crossings"].append(-1)
                    rows["feature_ok"].append(0)
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


# Synthetic media sizes the media queries' oracles recompute: 4×4-pixel
# PNG images and video frames, 6 frames per video sampled every 2nd, and
# 64 audio samples at 8 kHz
_SYNTH_WIDTH, _SYNTH_HEIGHT = 4, 4
_RAWV_FRAMES, _FRAME_EVERY = 6, 2
_WAV_SAMPLES, _WAV_RATE = 64, 8000


def synthesize_wav_media(docs: DataFrame) -> DataFrame:
    """Synthesize a real PCM16 WAV per document (``_WAV_SAMPLES`` samples
    at ``_WAV_RATE`` Hz) — sample i of doc d is
    ``((d*31 + i*17) % 201) - 100`` (sign-alternating, closed form), so
    RMS and zero-crossings are independently computable in plain SQL and
    the oracle closes the loop on the REAL decoder."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [
                encode_wav(
                    _WAV_RATE,
                    [((int(d) * 31 + i * 17) % 201) - 100 for i in range(_WAV_SAMPLES)],
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "kind": "audio",
                    "content": blobs,
                    "mime": "audio/wav",
                    "width": -1,
                    "height": -1,
                    "duration_ms": -1,
                }
            )

    return docs.select("doc_id").mapInPandas(run, schema=MEDIA_SCHEMA)


_RAWV_MAGIC = b"RAWV"


def encode_rawv(width: int, height: int, frames: list[bytes]) -> bytes:
    """Synthetic raw-frame video container: magic + (w, h, n_frames) +
    concatenated 8-bit gray frames. Real containers (MP4/WebM) need codec
    libraries absent in this environment; the container is synthetic but
    the frame-sampling plumbing below (row-expanding Arrow batches,
    bytes-never-shuffle) is exactly the production shape."""
    for fr in frames:
        if len(fr) != width * height:
            raise ValueError("each frame must be width*height bytes")
    return _RAWV_MAGIC + struct.pack(">III", width, height, len(frames)) + b"".join(frames)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("feature_ok", LongType()),
    ]
)


def sample_video_frames(media: DataFrame) -> DataFrame:
    """Frame sampling: one output row per kept frame (every
    ``_FRAME_EVERY``-th, starting at 0) with per-frame mean pixel value — ``mapInPandas`` with
    row-EXPANDING batches (n_out ≠ n_in is the point: frame extraction is
    a generator, not a map). Undecodable payloads yield a single
    ``feature_ok=0`` row so no media id silently disappears."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in FRAME_SCHEMA.fieldNames()}

            def emit(mid, idx, w, h, mean, ok):
                rows["media_id"].append(mid)
                rows["frame_idx"].append(idx)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["mean_px"].append(mean)
                rows["feature_ok"].append(ok)

            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob) if blob is not None else b""
                if b[:4] != _RAWV_MAGIC or len(b) < 16:
                    emit(int(mid), -1, -1, -1, 0.0, 0)
                    continue
                w, h, nf = struct.unpack(">III", b[4:16])
                fsz = w * h
                if len(b) < 16 + nf * fsz:
                    emit(int(mid), -1, -1, -1, 0.0, 0)
                    continue
                for f in range(0, nf, _FRAME_EVERY):
                    frame = b[16 + f * fsz : 16 + (f + 1) * fsz]
                    emit(int(mid), f, w, h, sum(frame) / fsz if fsz else 0.0, 1)
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def synthesize_rawv_media(docs: DataFrame) -> DataFrame:
    """Synthesize a raw-frame video per document (``_RAWV_FRAMES`` frames
    of ``_SYNTH_WIDTH``×``_SYNTH_HEIGHT``) — pixel i of frame f of doc d
    is ``(d*11 + f*5 + i*13) % 256`` (closed form ⇒ per-frame means are
    SQL-recomputable)."""
    width, height = _SYNTH_WIDTH, _SYNTH_HEIGHT
    n_px = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [
                encode_rawv(
                    width,
                    height,
                    [
                        bytes((int(d) * 11 + f * 5 + i * 13) % 256 for i in range(n_px))
                        for f in range(_RAWV_FRAMES)
                    ],
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "kind": "video",
                    "content": blobs,
                    "mime": "video/x-raw",
                    "width": width,
                    "height": height,
                    "duration_ms": -1,
                }
            )

    return docs.select("doc_id").mapInPandas(run, schema=MEDIA_SCHEMA)


def resize_gray_nn(pixels: bytes, width: int, height: int, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize of an 8-bit gray raster: target (x, y) reads
    source (floor(x*width/out_w), floor(y*height/out_h)) — the simplest
    deterministic mapping, chosen so an oracle can recompute it in SQL."""
    return bytes(
        pixels[(y * height // out_h) * width + (x * width // out_w)]
        for y in range(out_h)
        for x in range(out_w)
    )


def resize_png_batch(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Image resize stage: decode PNG → nearest-neighbor resample →
    re-encode PNG, inside one Arrow-batched ``mapInPandas`` pass (media in,
    media out — a composable pipeline stage, same MEDIA_SCHEMA). Gray 8-bit
    only (the stdlib codec's encode side); other inputs flag out via a
    zero-byte payload with width=-1."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = {k: [] for k in MEDIA_SCHEMA.fieldNames()}
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob) if blob is not None else b""
                try:
                    if b[:8] != _PNG_SIG:
                        raise ValueError("not a PNG")
                    w, h, _ = decode_png(b)
                    # decode_png returns the mean; re-derive raw samples for
                    # the resample (gray-only path keeps bpp == 1)
                    raw = _png_raw_gray(b)
                    small = resize_gray_nn(raw, w, h, out_w, out_h)
                    out = encode_png(out_w, out_h, small)
                    out_rows["content"].append(out)
                    out_rows["width"].append(out_w)
                    out_rows["height"].append(out_h)
                except Exception:
                    out_rows["content"].append(b"")
                    out_rows["width"].append(-1)
                    out_rows["height"].append(-1)
                out_rows["media_id"].append(int(mid))
                out_rows["kind"].append("image")
                out_rows["mime"].append("image/png")
                out_rows["duration_ms"].append(-1)
            yield pd.DataFrame(out_rows)

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def _png_raw_gray(blob: bytes) -> bytes:
    """Raw 8-bit gray samples of a grayscale PNG (decode_png validates)."""
    pos = 8
    width = height = 0
    idat = bytearray()
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        typ = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if typ == b"IHDR":
            width, height, depth, color, _c, _f, _i = struct.unpack(">IIBBBBB", data)
            if depth != 8 or color != 0:
                raise ValueError("gray 8-bit only")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    return bytes(_png_unfilter(zlib.decompress(bytes(idat)), width, height, 1))


def synthesize_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media-shaped table from the documents fixture (text bytes as
    the opaque payload) — deterministic inputs for plumbing tests."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(-1).cast("long").alias("width"),
        F.lit(-1).cast("long").alias("height"),
        F.lit(-1).cast("long").alias("duration_ms"),
    )


def synthesize_png_media(docs: DataFrame) -> DataFrame:
    """Synthesize a real 8-bit grayscale ``_SYNTH_WIDTH``×``_SYNTH_HEIGHT``
    PNG per document — pixel i of
    doc d is ``(d*7 + i*13) % 256``, so the decoded mean is independently
    computable in plain SQL (the DuckDB oracle closes the loop on the REAL
    decoder, not just the plumbing). PNG bytes are built in the same
    Arrow-batched ``mapInPandas`` pass that a production encode/resize
    stage would use."""
    width, height = _SYNTH_WIDTH, _SYNTH_HEIGHT
    n_px = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [
                encode_png(
                    width, height, bytes((int(d) * 7 + i * 13) % 256 for i in range(n_px))
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "kind": "image",
                    "content": blobs,
                    "mime": "image/png",
                    "width": -1,
                    "height": -1,
                    "duration_ms": -1,
                }
            )

    return docs.select("doc_id").mapInPandas(run, schema=MEDIA_SCHEMA)

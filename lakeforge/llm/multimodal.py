"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed via Arrow-batched ``mapInPandas``.

Two tiers of decode (round-3 review #5 retired the old blanket stub):

- **Header/metadata decode is REAL**: ``decode_bmp_header`` /
  ``decode_wav_header`` parse the container formats' binary headers with
  ``struct`` — zero dependencies — and ``decode_media_headers`` runs them
  distributed via mapInPandas.  ``encode_bmp`` / ``encode_wav`` write the
  same headers, so fixtures and the ``media_decode`` query round-trip
  real bytes through real parsing.
- **Payload decode is REAL for the uncompressed formats**:
  ``decode_bmp_pixels`` parses 24-bit BMP pixel rows (stride padding
  dropped, bottom-up order flipped) and ``decode_wav_samples`` parses
  16-bit PCM frames — pure numpy, no codec lib — and
  ``decode_media_stats`` runs them distributed, emitting exact integer
  count/sum/min/max per item.  Only COMPRESSED codecs (JPEG/MP3/H.264)
  would need an external lib; ``extract_features`` keeps the
  deterministic byte-histogram featurizer as the codec-free stand-in on
  that path, exercising identical Spark plumbing (schema contract, Arrow
  batch shape, partitioning).

Scale notes:
- Media bytes NEVER shuffle: featurize before any groupBy/join and carry
  only (id, features, metadata) forward.
- Callers ``repartition`` the media frame before these ops to control
  batch memory: payload_bytes x rows_per_batch must fit the Python worker
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` caps rows per batch).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The media-table contract: payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("features", ArrayType(FloatType()), True),
    ]
)


def encode_bmp(width: int, height: int, pixel_prefix: bytes = b"") -> bytes:
    """Minimal valid 24-bit BMP: 14-byte file header + BITMAPINFOHEADER.

    ``pixel_prefix`` lets fixtures attach a (possibly truncated) pixel
    payload; the header declares the TRUE pixel-array size, which is what
    header decode reads — same as any metadata-only media scan.
    """
    row_bytes = (width * 3 + 3) & ~3  # rows padded to 4 bytes
    img_size = row_bytes * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return header + pixel_prefix


def decode_bmp_header(content: bytes) -> tuple[int, int]:
    """Parse (width, height) from a BMP's BITMAPINFOHEADER — pure struct.

    Height is stored signed (negative = top-down row order); callers get
    the magnitude.  Raises ValueError on non-BMP bytes.
    """
    if content is None or len(content) < 26 or content[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    width, height = struct.unpack_from("<ii", content, 18)
    return width, abs(height)


def encode_wav(
    n_samples: int,
    sample_rate: int = 16_000,
    n_channels: int = 1,
    data_prefix: bytes = b"",
) -> bytes:
    """Minimal valid 16-bit PCM WAV: RIFF/WAVE + fmt + data chunk header.

    The data chunk declares the TRUE sample-payload size (n_samples x
    block_align); ``data_prefix`` optionally attaches leading samples.
    """
    bits = 16
    block_align = n_channels * bits // 8
    byte_rate = sample_rate * block_align
    data_size = n_samples * block_align
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + data_size, b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sample_rate,
            byte_rate, block_align, bits,
        )
        + struct.pack("<4sI", b"data", data_size)
        + data_prefix
    )


def decode_wav_header(content: bytes) -> dict:
    """Parse a PCM WAV header — sample_rate, n_channels, bits, n_samples,
    duration_ms — walking RIFF chunks with ``struct`` (no codec lib).

    Raises ValueError on non-WAV bytes or a missing fmt/data chunk.
    """
    if content is None or len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a WAV payload (missing RIFF/WAVE magic)")
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(content):
        cid, csize = struct.unpack_from("<4sI", content, pos)
        if cid == b"fmt " and pos + 8 + 16 <= len(content):
            fmt = struct.unpack_from("<HHIIHH", content, pos + 8)
        elif cid == b"data":
            data_size = csize  # declared size; payload may be truncated
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data_size is None:
        raise ValueError("WAV payload missing fmt / data chunk")
    _, n_channels, sample_rate, _, block_align, bits = fmt
    if block_align <= 0 or sample_rate <= 0:
        raise ValueError("WAV fmt chunk has non-positive block_align/rate")
    n_samples = data_size // block_align
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "bits": bits,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000 // sample_rate,
    }


def decode_bmp_pixels(content: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BMP's pixel array — pure numpy, no
    codec lib.  Returns a ``(height, width, 3)`` uint8 array in TOP-DOWN
    row order and the file's native BGR channel order.

    Handles the format's real quirks: the pixel array starts at the
    header-declared data offset; each row is padded to a 4-byte stride
    (padding bytes are NOT pixels and must be dropped); positive
    biHeight means rows are stored bottom-up (flipped here).
    Raises ValueError on non-BMP / non-24-bit / truncated payloads.
    """
    if content is None or len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    (data_offset,) = struct.unpack_from("<I", content, 10)
    width, height_signed = struct.unpack_from("<ii", content, 18)
    (bpp,) = struct.unpack_from("<H", content, 28)
    if bpp != 24:
        raise ValueError(f"only 24-bit BMP supported, got {bpp}-bit")
    height = abs(height_signed)
    if width <= 0 or height <= 0:
        raise ValueError("BMP with non-positive dimensions")
    row_bytes = (width * 3 + 3) & ~3
    need = data_offset + row_bytes * height
    if len(content) < need:
        raise ValueError(
            f"truncated BMP pixel array: have {len(content)}, need {need}"
        )
    raw = np.frombuffer(
        content, dtype=np.uint8, count=row_bytes * height, offset=data_offset
    )
    # drop the per-row stride padding, then split pixels into channels
    px = raw.reshape(height, row_bytes)[:, : width * 3].reshape(
        height, width, 3
    )
    if height_signed > 0:  # bottom-up storage -> top-down logical order
        px = px[::-1]
    return px


def decode_wav_samples(content: bytes) -> tuple[np.ndarray, dict]:
    """Decode 16-bit PCM WAV samples — pure numpy/struct.  Returns
    ``(samples, header)`` where samples is an ``(n_samples, n_channels)``
    int16 array (little-endian, as stored) and header is
    :func:`decode_wav_header`'s dict.  Raises ValueError on non-PCM-16 or
    a data chunk shorter than its declared size.
    """
    hdr = decode_wav_header(content)
    if hdr["bits"] != 16:
        raise ValueError(f"only 16-bit PCM supported, got {hdr['bits']}-bit")
    # locate the data chunk's payload offset (header decode validated it)
    pos = 12
    while pos + 8 <= len(content):
        cid, csize = struct.unpack_from("<4sI", content, pos)
        if cid == b"data":
            if pos + 8 + csize > len(content):
                raise ValueError(
                    f"truncated WAV data chunk: declared {csize}, "
                    f"have {len(content) - pos - 8}"
                )
            raw = np.frombuffer(
                content, dtype="<i2", count=csize // 2, offset=pos + 8
            )
            n_ch = hdr["n_channels"]
            return raw.reshape(-1, n_ch), hdr
        pos += 8 + csize + (csize & 1)
    raise ValueError("WAV payload missing data chunk")


MEDIA_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("fmt", StringType(), True),  # bmp | wav | None=corrupt
        StructField("n_values", LongType(), True),
        StructField("val_sum", LongType(), True),
        StructField("val_min", LongType(), True),
        StructField("val_max", LongType(), True),
    ]
)


def decode_media_stats(media: DataFrame) -> DataFrame:
    """Distributed PAYLOAD decode (not just headers): parse every BMP's
    stride-padded pixel rows / every WAV's 16-bit PCM samples with the
    pure-numpy decoders above and emit per-item value stats
    (count/sum/min/max over pixel bytes resp. samples).  Exact integer
    outputs — oracle-checkable against a closed-form recomputation when
    payloads are deterministic.

    Same scale contract as every media op here: bytes are consumed inside
    the Arrow batch and never survive the operator; undecodable payloads
    yield fmt=NULL rows instead of failing the task."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                fmt = n = s = lo = hi = None
                try:
                    if content is not None and content[:2] == b"BM":
                        px = decode_bmp_pixels(content)
                        fmt, n = "bmp", int(px.size)
                        s = int(px.sum(dtype=np.int64))
                        lo, hi = int(px.min()), int(px.max())
                    elif content is not None and content[:4] == b"RIFF":
                        samples, _ = decode_wav_samples(content)
                        fmt, n = "wav", int(samples.size)
                        s = int(samples.sum(dtype=np.int64))
                        lo, hi = int(samples.min()), int(samples.max())
                except ValueError:
                    fmt = n = s = lo = hi = None  # corrupt: keep row, null stats
                rows.append((mid, fmt, n, s, lo, hi))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "fmt", "n_values", "val_sum",
                    "val_min", "val_max",
                ],
            )

    return media.mapInPandas(run, schema=MEDIA_STATS_SCHEMA)


def downsample_bmp(content: bytes, factor: int = 2) -> bytes:
    """REAL image resize for the uncompressed format: decode the 24-bit
    BMP, mean-pool ``factor x factor`` pixel blocks (integer floor mean,
    ragged edges truncated), and re-encode a valid BMP — decode, pool,
    and encode are all real byte-level transforms, no codec lib.

    Raises ValueError when the image is smaller than one block (callers
    surface that as a NULL row, the no-poison-pill contract)."""
    px = decode_bmp_pixels(content)
    H, W = px.shape[0] // factor, px.shape[1] // factor
    if H == 0 or W == 0:
        raise ValueError(
            f"image {px.shape[1]}x{px.shape[0]} smaller than one "
            f"{factor}x{factor} block"
        )
    block = px[: H * factor, : W * factor].reshape(H, factor, W, factor, 3)
    pooled = (
        block.sum(axis=(1, 3), dtype=np.int64) // (factor * factor)
    ).astype(np.uint8)
    row_bytes = (W * 3 + 3) & ~3
    rows = np.zeros((H, row_bytes), np.uint8)
    rows[:, : W * 3] = pooled[::-1].reshape(H, W * 3)  # back to bottom-up
    return encode_bmp(W, H, rows.tobytes())


def downsample_media(media: DataFrame, factor: int = 2) -> DataFrame:
    """Distributed real image downsampling via mapInPandas: every BMP
    payload is decoded, mean-pooled, and re-encoded in the executor.
    Output payloads are ~factor^2 smaller — the op where full-size bytes
    exist for the last time: payloads stream through one Arrow batch at a
    time, and downstream sees only the smaller ones.  Undecodable or
    too-small payloads yield content=NULL rows."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    small = downsample_bmp(content, factor)
                    w, h = decode_bmp_header(small)
                    out.append((mid, w, h, small))
                except (ValueError, TypeError):
                    out.append((mid, None, None, None))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "content"]
            )

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


WAV_ENERGY_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("sq_sum", LongType(), True),
        StructField("peak", LongType(), True),
    ]
)


def wav_energy(media: DataFrame) -> DataFrame:
    """Distributed audio energy profile over REAL decoded PCM: per clip,
    the sample count, exact sum of squares (the integer core of RMS
    loudness — rms = sqrt(sq_sum / n)), and peak absolute amplitude.
    int64 accumulation: 16-bit samples square to < 2^31, so ~2^33 samples
    per clip before overflow — far beyond any real clip."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    samples, _ = decode_wav_samples(content)
                    s = samples.astype(np.int64)
                    out.append((
                        mid,
                        int(s.size),
                        int((s * s).sum()),
                        int(np.abs(s).max()) if s.size else 0,
                    ))
                except (ValueError, TypeError):
                    out.append((mid, None, None, None))
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "sq_sum", "peak"]
            )

    return media.mapInPandas(run, schema=WAV_ENERGY_SCHEMA)


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("fmt", StringType(), True),  # bmp | wav | None=unknown
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


def decode_media_headers(media: DataFrame) -> DataFrame:
    """Distributed header decode via Arrow-batched mapInPandas: sniffs each
    payload's magic and parses BMP dims / WAV timing with the pure-struct
    decoders above.  Unknown formats yield fmt=NULL rows (no poison-pill
    task failures from one bad payload).  Bytes do not survive the op —
    only the typed metadata row comes out.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                fmt = width = height = rate = nsamp = dur = None
                try:
                    if content is not None and content[:2] == b"BM":
                        width, height = decode_bmp_header(content)
                        fmt = "bmp"
                    elif content is not None and content[:4] == b"RIFF":
                        w = decode_wav_header(content)
                        rate, nsamp = w["sample_rate"], w["n_samples"]
                        dur, fmt = w["duration_ms"], "wav"
                except ValueError:
                    fmt = None  # corrupt header: keep the row, null metadata
                rows.append((mid, fmt, width, height, rate, nsamp, dur))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "fmt", "width", "height",
                    "sample_rate", "n_samples", "duration_ms",
                ],
            )

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


def _fake_features(content: bytes) -> np.ndarray:
    """Deterministic stand-in featurizer: 16-bin byte histogram, L1-normed."""
    if content is None or len(content) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(content, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(np.float32)
    return hist / max(len(arr), 1)


def extract_features(media: DataFrame) -> DataFrame:
    """Featurize media payloads via Arrow-batched mapInPandas.

    Drops the payload column on output — bytes never travel past this op.
    """
    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_features(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(c) if c is not None else 0 for c in pdf["content"]
                    ],
                    "features": feats,
                }
            )

    return media.mapInPandas(featurize, schema=FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled timestamp.

    The frame grab itself is stubbed (no codec libs); the explode shape,
    schema, and timestamp arithmetic are the real operator.
    """
    n_frames = (F.coalesce(F.col("duration_ms"), F.lit(0)) / F.lit(every_ms)).cast(
        "long"
    )
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))).alias(
                "frame_idx"
            ),
        )
        .withColumn("ts_ms", F.col("frame_idx") * F.lit(every_ms))
    )


AUDIO_CHUNK_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("chunk_idx", LongType(), False),
        StructField("start_ms", LongType(), False),
        StructField("end_ms", LongType(), False),
        StructField("content", BinaryType(), True),
    ]
)


def chunk_audio(media: DataFrame, chunk_ms: int = 10_000) -> DataFrame:
    """Audio chunking plumbing via mapInPandas: split each clip into
    fixed-duration windows (the ASR/embedding pre-step).

    The codec is stubbed — chunk payloads are byte slices proportional to
    the time window — but the chunk-boundary arithmetic (ceil division,
    ragged last chunk), the one-in/many-out batch shape, and the contract
    that downstream sees bounded-size payloads are the real operator.
    Chunks inherit the parent's partition: no shuffle is introduced, and
    each output payload is <= chunk_ms worth of bytes — the property that
    keeps per-row memory flat no matter how long the input clips are.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "chunk_idx": [], "start_ms": [], "end_ms": [],
                "content": [],
            }
            for mid, content, dur in zip(
                pdf["media_id"], pdf["content"], pdf["duration_ms"]
            ):
                if content is None or dur is None or dur <= 0:
                    continue
                n_chunks = -(-int(dur) // chunk_ms)  # ceil
                for i in range(n_chunks):
                    start = i * chunk_ms
                    end = min((i + 1) * chunk_ms, int(dur))
                    # stub slice: bytes proportional to the time window
                    b0 = len(content) * start // int(dur)
                    b1 = len(content) * end // int(dur)
                    out["media_id"].append(mid)
                    out["chunk_idx"].append(i)
                    out["start_ms"].append(start)
                    out["end_ms"].append(end)
                    out["content"].append(bytes(content[b0:b1]))
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "audio").mapInPandas(
        run, schema=AUDIO_CHUNK_SCHEMA
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("content", BinaryType(), True),
    ]
)

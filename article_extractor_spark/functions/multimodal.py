"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct; the heavy steps (decode, frame-sample) run as Arrow-batched
``mapInPandas`` stages.  No image codec is used, so the image decode is
a deterministic stand-in — but the Spark-side contract (schema,
pruning, batch shape, partitioning) is real and tested:

- ``media_features``: deterministic fake "decode" producing byte-count,
  content digest, and fake dimensions — fully reproducible, so it has an
  exact SQL oracle.
- ``sample_frames``: REAL frame sampling over the uncompressed RAWV
  container (header parse + stride slicing, truncation-safe); only
  compressed-codec demuxing remains out of scope.

At 100 TB the binary column dominates IO; every entry point prunes to
exactly (id, payload) before the Arrow exchange so Parquet never
materializes unused columns (check ReadSchema in .explain).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("digest", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, str, int, int]:
    """Deterministic stand-in for an image decode: dimensions derive
    from the byte length (stable across engines/runs)."""
    n = len(payload)
    digest = hashlib.md5(payload).hexdigest()
    return n, digest, 1 + n % 640, 1 + (n * 7) % 480


def _feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for batch in batches:
        feats = [_fake_decode(p or b"") for p in batch["payload"]]
        out = pd.DataFrame(
            feats, columns=["n_bytes", "digest", "width", "height"]
        )
        out.insert(0, "doc_id", batch["doc_id"].values)
        yield out


def media_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched feature extraction over a binary media column.

    Prunes to (id, payload) first so only those columns cross the
    JVM→Python boundary.
    """
    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    pruned = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(payload_col).cast("binary").alias("payload"),
    )
    return pruned.mapInPandas(_feature_batches, schema=MEDIA_FEATURE_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter used by tests/benchmarks: treats each document's UTF-8
    bytes as an opaque media payload (the container has no image data;
    the plumbing is identical)."""
    return docs.select(
        F.col("doc_id"), F.encode(F.col("text"), "UTF-8").alias("payload")
    )


# ------------------------------------------------------------------
# Video frame sampling over the RAWV container
# ------------------------------------------------------------------
#
# No video codec libs ship in this container, so compressed formats
# stay out of scope — but frame sampling itself does not need one:
# RAWV is a deterministic uncompressed container (the shape a decode
# stage upstream would emit):
#
#   bytes 0-3   magic b"RAWV"
#   bytes 4-5   width  (uint16 LE)
#   bytes 6-7   height (uint16 LE)
#   bytes 8-11  n_frames (uint32 LE)
#   then n_frames grayscale frames of width*height bytes each
#
# ``sample_frames`` is a REAL operator over this format (header parse,
# stride sampling, truncation-safe); swapping the slice kernel for a
# pyav/ffmpeg demuxer activates compressed formats with the same Spark
# plumbing and schema.

RAWV_MAGIC = b"RAWV"
RAWV_HEADER_LEN = 12
VIDEO_FRAME_W = 8
VIDEO_FRAME_H = 4  # 32-byte frames in the synthetic corpus adapter

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("frame_digest", T.StringType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def encode_rawv(width: int, height: int, frames: list[bytes]) -> bytes:
    """Pack frames into a RAWV payload (each frame must be exactly
    width*height bytes)."""
    import struct

    for fr in frames:
        if len(fr) != width * height:
            raise ValueError("frame size mismatch")
    return (
        RAWV_MAGIC
        + struct.pack("<HHI", width, height, len(frames))
        + b"".join(frames)
    )


def _frame_sample_batches(every_n: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                p = bytes(payload or b"")
                if len(p) < RAWV_HEADER_LEN or p[:4] != RAWV_MAGIC:
                    # malformed container → diagnosable row, not a
                    # task death (same contract as media_features)
                    rows.append(
                        (doc_id, None, None, None, None, None, False)
                    )
                    continue
                w, h, nf = struct.unpack("<HHI", p[4:RAWV_HEADER_LEN])
                fsize = w * h
                # truncation-safe: only fully-present frames count
                avail = (
                    min(nf, (len(p) - RAWV_HEADER_LEN) // fsize)
                    if fsize
                    else 0
                )
                for k in range(0, avail, every_n):
                    start = RAWV_HEADER_LEN + k * fsize
                    digest = hashlib.md5(
                        p[start : start + fsize]
                    ).hexdigest()
                    rows.append((doc_id, k, avail, w, h, digest, True))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "frame_idx",
                    "n_frames",
                    "width",
                    "height",
                    "frame_digest",
                    "ok",
                ],
            )

    return fn


def sample_frames(
    df: DataFrame, payload_col: str = "payload", every_n: int = 30
) -> DataFrame:
    """Sample every ``every_n``-th frame from RAWV video payloads.

    Same Spark plumbing as ``media_features``: prune to
    (doc_id, payload), ONE Arrow-batched mapInPandas stage, zero
    shuffles — frame extraction is embarrassingly parallel over docs.
    Malformed containers yield ``ok=false`` rows; truncated payloads
    sample only fully-present frames.  Emits one row per sampled frame
    with its md5 digest (the downstream dedup/similarity family
    consumes digests and feature vectors, not raw pixels)."""
    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    pruned = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(payload_col).cast("binary").alias("payload"),
    )
    return pruned.mapInPandas(
        _frame_sample_batches(every_n), schema=FRAME_SAMPLE_SCHEMA
    )


def _video_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import struct

    fsize = VIDEO_FRAME_W * VIDEO_FRAME_H
    for batch in batches:
        payloads = []
        for text in batch["text"]:
            body = (text or "").encode("utf-8")
            nf = len(body) // fsize
            payloads.append(
                RAWV_MAGIC
                + struct.pack("<HHI", VIDEO_FRAME_W, VIDEO_FRAME_H, nf)
                + body[: nf * fsize]
            )
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "payload": payloads}
        )


def documents_as_video(docs: DataFrame) -> DataFrame:
    """Adapter used by tests/benchmarks: wraps each document's UTF-8
    bytes in a RAWV container (8×4 grayscale frames), so the frame
    sampler exercises real header parsing + slicing on a table whose
    expected output is analytically derivable (frame k is byte-slice
    k of the text under the corpus's ASCII purity)."""
    from ..shipping import ensure_shipped

    ensure_shipped(docs.sparkSession)
    pruned = docs.select(F.col("doc_id").cast("long"), F.col("text"))
    return pruned.mapInPandas(
        _video_batches,
        schema="doc_id long, payload binary",
    )


# ---------------------------------------------------------------------------
# Audio: real RIFF/WAVE parsing (the audio analog of the RAWV kernel)
# ---------------------------------------------------------------------------

AUDIO_SAMPLE_RATE = 8000  # synthetic-adapter format: 8-bit mono PCM

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("loud_milli", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def parse_wav(p: bytes):
    """Real RIFF chunk walker (not a fixed-44-byte-header assumption):
    validates RIFF/WAVE magic, iterates word-aligned chunks, and
    returns (sample_rate, channels, bits, data_bytes) for linear-PCM
    8/16-bit files — None for anything malformed or unsupported
    (crawled audio must diagnose, never crash; the E29 contract).
    Truncated data chunks yield the bytes actually present."""
    import struct

    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(p):
        cid = p[pos : pos + 4]
        size = int.from_bytes(p[pos + 4 : pos + 8], "little")
        body = p[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data" and data is None:
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_fmt, ch, sr, _byte_rate, _block_align, bits = fmt
    if audio_fmt != 1 or ch == 0 or sr == 0 or bits not in (8, 16):
        return None
    return sr, ch, bits, data


def _audio_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    import numpy as np

    bad = (None, None, None, None, None, None, None, False)
    for batch in batches:
        rows = []
        for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
            parsed = parse_wav(bytes(payload or b""))
            if parsed is None:
                rows.append((doc_id, *bad))
                continue
            sr, ch, bits, data = parsed
            block = ch * (bits // 8)
            n = len(data) // block
            data = data[: n * block]  # truncation-safe: whole samples
            if bits == 8:
                a = np.frombuffer(data, dtype=np.uint8).astype(
                    np.int64
                ) - 128
            else:
                a = np.frombuffer(data, dtype="<i2").astype(np.int64)
            # integer millis + milli-amplitude: exact across engines
            dur = n * 1000 // sr
            loud = (
                int(np.abs(a).sum()) * 1000 // (n * ch) if n else 0
            )
            rows.append(
                (
                    doc_id,
                    sr,
                    ch,
                    bits,
                    n,
                    dur,
                    loud,
                    hashlib.md5(data).hexdigest(),
                    True,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "sample_rate",
                "channels",
                "bits",
                "n_samples",
                "duration_ms",
                "loud_milli",
                "digest",
                "ok",
            ],
        )


def audio_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Per-file audio metadata + integer loudness over WAV payloads:
    prune to (doc_id, payload), ONE Arrow-batched mapInPandas stage,
    zero shuffles (same plumbing as ``sample_frames``).  Amplitude
    math is integer-exact (sum |sample| · 1000 // count), so the
    output is reproducible bit-for-bit under any partitioning and has
    an exact SQL oracle over the synthetic adapter.  Malformed or
    non-PCM payloads yield ``ok=false`` diagnostic rows."""
    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    pruned = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(payload_col).cast("binary").alias("payload"),
    )
    return pruned.mapInPandas(
        _audio_feature_batches, schema=AUDIO_FEATURE_SCHEMA
    )


def encode_wav(
    data: bytes, sample_rate: int = AUDIO_SAMPLE_RATE,
    channels: int = 1, bits: int = 8,
) -> bytes:
    """Canonical linear-PCM WAV container around ``data`` (the writer
    half of ``parse_wav``; unit tests and the synthetic adapter share
    it)."""
    import struct

    block = channels * (bits // 8)
    header = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data) + (len(data) & 1))
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH",
            16,
            1,
            channels,
            sample_rate,
            sample_rate * block,
            block,
            bits,
        )
        + b"data"
        + struct.pack("<I", len(data))
    )
    return header + data + (b"\x00" if len(data) & 1 else b"")


def _audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for batch in batches:
        payloads = [
            encode_wav((text or "").encode("utf-8"))
            for text in batch["text"]
        ]
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "payload": payloads}
        )


def documents_as_audio(docs: DataFrame) -> DataFrame:
    """Adapter used by tests/benchmarks: wraps each document's UTF-8
    bytes as 8-bit mono PCM at ``AUDIO_SAMPLE_RATE`` — under the
    corpus's ASCII purity, sample k is byte k of the text, so every
    feature the kernel computes is analytically derivable in SQL
    (n_samples = octet_length, loudness = Σ(128 − ascii(char)),
    digest = md5(text))."""
    from ..shipping import ensure_shipped

    ensure_shipped(docs.sparkSession)
    pruned = docs.select(F.col("doc_id").cast("long"), F.col("text"))
    return pruned.mapInPandas(
        _audio_batches,
        schema="doc_id long, payload binary",
    )

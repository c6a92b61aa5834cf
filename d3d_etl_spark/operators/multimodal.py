"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats image/audio/video as `binary` columns and runs decode /
feature-extraction as Arrow-batched pandas over `mapInPandas`. The decode
step itself is STUBBED (no image/audio libs in this container): a
deterministic fake derives "decoded" metadata from the bytes, while the
Spark-side plumbing — schema, batch iteration, partitioning — is real and
oracle-checked (the fake is pure byte math, so DuckDB can mirror it).

Swap `_fake_decode` for a real decoder (PIL/libav) to productionize; the
mapInPandas shape, output schema and partition behavior do not change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a real media decoder.

    Real decode (PIL.Image.open / av.open) is unavailable in this container;
    raise if someone flips the flag expecting real decoding.
    """
    n = len(payload)
    return (n % 640 + 1, n % 480 + 1, n % 24 + 1)


def decode_media_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: (doc_id, payload binary) -> DECODED_SCHEMA rows."""
    for pdf in it:
        payloads = pdf["payload"]
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": payloads.map(len).astype("int64"),
                "content_hash": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
            }
        )
        decoded = payloads.map(_fake_decode)
        out["width"] = decoded.map(lambda t: t[0]).astype("int64")
        out["height"] = decoded.map(lambda t: t[1]).astype("int64")
        out["n_frames"] = decoded.map(lambda t: t[2]).astype("int64")
        yield out


def extract_media_features(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Arrow-batched feature extraction over a binary column."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(decode_media_batch, DECODED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_hash", StringType()),
        StructField("frame_bytes", LongType()),
    ]
)


def sample_frames_batch(stride: int):
    """mapInPandas worker factory: one payload row -> every `stride`-th frame
    (UDTF shape: rows out > rows in). Frame decode is stubbed byte math —
    frame count from the fake decoder, frame id from the content hash."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                n_frames = n % 24 + 1
                chash = hashlib.md5(payload).hexdigest()
                for idx in range(0, n_frames, stride):
                    rows.append(
                        (
                            int(doc_id),
                            idx,
                            hashlib.md5(f"{chash}:{idx}".encode()).hexdigest(),
                            n // n_frames,
                        )
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_hash", "frame_bytes"])

    return fn


def sample_media_frames(
    df: DataFrame, stride: int = 3, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Every stride-th frame of each media payload as its own row.

    At scale this is the fan-out stage of a video pipeline: rows multiply by
    ~n_frames/stride, so it runs AFTER partitioning and the downstream
    per-frame work (embedding, OCR) inherits the parallelism."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(sample_frames_batch(stride), FRAME_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("new_width", LongType()),
        StructField("new_height", LongType()),
        StructField("out_bytes", LongType()),
    ]
)


def resize_media_batch(target_w: int, target_h: int):
    """mapInPandas worker factory: aspect-preserving fit into (target_w,
    target_h) with exact integer math (floor scaling — no float rounding, so
    any engine reproduces it bit-for-bit). The pixel resample itself is
    stubbed; dimensions and output size are the real contract."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                w, h, _ = _fake_decode(payload)
                if w <= target_w and h <= target_h:
                    nw, nh = w, h
                elif w * target_h <= h * target_w:
                    nw, nh = max(1, (w * target_h) // h), target_h
                else:
                    nw, nh = target_w, max(1, (h * target_w) // w)
                rows.append((int(doc_id), w, h, nw, nh, min(n, nw * nh * 3)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "new_width", "new_height", "out_bytes"],
            )

    return fn


def resize_media(
    df: DataFrame, target_w: int = 160, target_h: int = 120,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(resize_media_batch(target_w, target_h), RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Batched model inference (the GPU-pipeline plumbing): Arrow batches arrive
# at mapInPandas granularity, but accelerators want FIXED micro-batches —
# so the operator re-chunks every incoming frame to `batch_size` rows before
# invoking the "model". The model here is a deterministic stub (logits
# md5-derived from the payload hash, portable to SQL) — swap `_fake_logits`
# for a real forward pass (ONNX/torch) and nothing else changes: schema,
# batching, partition behavior are the production shape.
# ---------------------------------------------------------------------------

INFER_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pred_class", LongType()),
        StructField("confidence", DoubleType()),
    ]
)


def _fake_logits(payload: bytes, n_classes: int) -> list[float]:
    h = hashlib.md5(payload).hexdigest()
    return [
        int(hashlib.md5(f"{h}:{k}".encode()).hexdigest()[:8], 16) % 1000 / 1000.0
        for k in range(n_classes)
    ]


def infer_media_batch(batch_size: int, n_classes: int = 4):
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                rows = []
                for doc_id, payload in zip(chunk["doc_id"], chunk["payload"]):
                    logits = _fake_logits(bytes(payload), n_classes)
                    # argmax with lowest-class tiebreak: a total order
                    best = max(range(n_classes), key=lambda k: (logits[k], -k))
                    rows.append((doc_id, best, logits[best]))
                yield pd.DataFrame(rows, columns=["doc_id", "pred_class", "confidence"])

    return fn


def batch_infer(
    df: DataFrame,
    batch_size: int = 32,
    n_classes: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id, payload binary) -> (id, pred_class, confidence) via fixed-size
    micro-batched inference. At scale: repartition upstream so partitions
    hold whole multiples of the accelerator batch, and size executors one
    model replica per task slot."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).mapInPandas(infer_media_batch(batch_size, n_classes), INFER_SCHEMA)

"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The decode step is a deterministic stand-in (``decode_image_batch`` tiles
each payload's md5 digest into an image; no image library is a
dependency), but everything Spark-side is real and tested: schema,
partition-parallel ``mapInPandas`` batching, UDF signatures, and
byte-budget-aware batch shaping.

At 100 TB the rules encoded here:
* binary payloads ride in their own column and are NEVER a shuffle key;
  metadata (dims, format, duration) lives in sibling typed columns so
  filters prune on parquet statistics without touching bytes;
* per-batch row counts are budgeted by payload size, not row count
  (``rows_per_batch = budget_bytes / avg_payload``), since Arrow batches
  with 10k x 5 MB rows would OOM the python worker.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("format", StringType(), True),  # jpeg|png|wav|mp4...
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)


@dataclass(frozen=True)
class MediaBatchConfig:
    batch_budget_bytes: int = 64 * 1024 * 1024  # per Arrow batch per core
    feature_dim: int = 64


def decode_image_batch(payloads: pd.Series) -> np.ndarray:
    """payload bytes -> (n, 8, 8, 3) uint8.  A STAND-IN for a real image
    decoder (which needs Pillow/cv2): each image is the payload's md5
    digest tiled into 8x8 RGB, so the same payload always yields the same
    pixels.  NULL payloads yield all-zero images."""
    out = np.zeros((len(payloads), 8, 8, 3), dtype=np.uint8)
    for i, p in enumerate(payloads):
        if p is None:
            continue
        digest = hashlib.md5(bytes(p)).digest()
        out[i] = np.frombuffer((digest * 12)[: 8 * 8 * 3], dtype=np.uint8).reshape(8, 8, 3)
    return out


def media_features(
    media: DataFrame,
    config: MediaBatchConfig | None = None,
) -> DataFrame:
    """-> (media_id, feature array<float>) via mapInPandas.

    The decode happens inside the partition; only the small feature vector
    crosses back.  Batch row-count is adapted to the payload budget.
    """
    cfg = config or MediaBatchConfig()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            sizes = batch["payload"].map(lambda p: 0 if p is None else len(p))
            avg = max(int(sizes.mean() or 1), 1)
            rows_per_chunk = max(cfg.batch_budget_bytes // avg, 1)
            for lo in range(0, len(batch), rows_per_chunk):
                chunk = batch.iloc[lo : lo + rows_per_chunk]
                imgs = decode_image_batch(chunk["payload"])
                flat = imgs.reshape(len(chunk), -1).astype(np.float32)
                # mean-pool into feature_dim buckets (stand-in for a model)
                pooled = np.stack(
                    [
                        seg.mean(axis=1)
                        for seg in np.array_split(flat, cfg.feature_dim, axis=1)
                    ],
                    axis=1,
                )
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].to_numpy(),
                        "feature": list(pooled),
                    }
                )

    return media.select("media_id", "payload").mapInPandas(
        gen, schema="media_id string, feature array<float>"
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts_ms).
    The frame extraction itself would run in the same mapInPandas pattern
    as media_features; here we materialize the sampling grid JVM-side so
    the expensive decode fans out evenly across partitions."""
    return (
        media.where(F.col("media_type") == "video")
        .where(F.col("duration_ms").isNotNull())
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms)
                )
            ).alias("frame_ts_ms"),
        )
    )

"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video travel as `binary` columns with a metadata struct.
The Spark-side machinery — schemas, mapInPandas batch shape, partition
sizing — is real and tested; the actual codec calls are STUBBED behind
``_decode_image_bytes`` (the image/audio libraries are not in this
container) with a deterministic fake so tests exercise the full path.

Scale notes: binary payloads dominate row size, so
``spark.sql.files.maxPartitionBytes`` should be sized for payload MBs,
and decode runs through mapInPandas (Arrow transfers the raw bytes
once; no JVM<->Python per-row chatter).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from mlrsketch.session import python_task

IMAGE_META_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
    ]
)


def _decode_image_bytes(payload: bytes) -> np.ndarray:
    """STUB decode: real deployments plug Pillow/libvips here.

    Deterministic fake: derives a 8x8x3 uint8 'image' from the payload
    bytes so downstream feature extraction is testable end-to-end.
    Raises NotImplementedError for payloads tagged as real codecs.
    """
    if payload[:4] in (b"\x89PNG", b"\xff\xd8\xff\xe0"):
        raise NotImplementedError("real image codecs are stubbed in this environment")
    arr = np.frombuffer(payload, dtype=np.uint8)
    reps = int(np.ceil(192 / max(arr.size, 1)))
    return np.tile(arr, reps)[:192].reshape(8, 8, 3)


def image_features(df: DataFrame, bin_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """Decode + feature-extract: mean channel intensities per image.

    mapInPandas over (id, payload) batches; output (id, features:
    array<float>). The decode is the stub above; the plumbing —
    Arrow binary transfer, batch-shaped numpy work, typed output —
    is the real production shape.
    """
    schema = StructType(
        [
            df.schema[id_col],
            StructField("features", ArrayType(FloatType())),
        ]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[bin_col]:
                img = _decode_image_bytes(bytes(payload))
                feats.append(img.reshape(-1, 3).mean(axis=0).astype(np.float32).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return df.select(id_col, bin_col).mapInPandas(python_task(extract), schema=schema)


def frame_sample(df: DataFrame, bin_col: str = "payload", every_nth: int = 10) -> DataFrame:
    """Video frame-sampling plumbing (STUB codec): emits one row per
    sampled 'frame' with a frame_idx — demonstrates the explode-after-
    decode shape where output cardinality > input cardinality."""
    out_schema = StructType(
        list(df.schema.fields) + [StructField("frame_idx", IntegerType())]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            reps = []
            for i, payload in enumerate(pdf[bin_col]):
                n_frames = max(1, len(bytes(payload)) // 64 // every_nth)
                for f in range(n_frames):
                    reps.append((i, f * every_nth))
            if not reps:
                continue
            rows, idxs = zip(*reps)
            out = pdf.iloc[list(rows)].reset_index(drop=True)
            out["frame_idx"] = list(idxs)
            yield out

    return df.mapInPandas(python_task(sample), schema=out_schema)


def attach_fake_payload(df: DataFrame, from_col: str = "text") -> DataFrame:
    """Test helper: deterministic binary payload derived from a string
    column (utf-8 bytes) + metadata struct — simulates a multimodal
    table without external data."""
    return df.withColumn("payload", F.encode(F.col(from_col), "utf-8")).withColumn(
        "meta",
        F.struct(
            F.lit(8).alias("width"), F.lit(8).alias("height"), F.lit("fake").alias("format")
        ),
    )

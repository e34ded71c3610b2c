"""Multimodal binary-column operators (training-data pipeline additions).

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata. The *real*, tested parts are format sniffing (magic bytes),
metadata extraction, batch shaping and the Spark plumbing
(``mapInPandas`` with explicit schemas, partition-friendly); the
feature-extract kernel is STUBBED behind a clearly-marked deterministic
fake (the container ships no image/audio libraries).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"RIFF", "audio/wav-or-avi"),
    (b"ID3", "audio/mpeg"),
    (b"\x1a\x45\xdf\xa3", "video/webm"),
    (b"%PDF", "application/pdf"),
    (b"<!DOCTYPE", "text/html"),
    (b"<html", "text/html"),
]


def sniff_mime(payload: bytes | None) -> str:
    """Magic-byte format sniffing — real, not stubbed."""
    if not payload:
        return "application/octet-stream"
    head = bytes(payload[:16])
    for magic, mime in _MAGIC:
        if head.startswith(magic):
            return mime
    return "application/octet-stream"


def fake_features(payload: bytes | None, dim: int = 16) -> list[float]:
    """Deterministic fake feature vector (md5-seeded) standing in for the
    decode → embed kernel; keeps the batch/schema/partition plumbing real."""
    h = hashlib.md5(payload or b"").digest()
    rng = np.random.RandomState(int.from_bytes(h[:4], "big"))
    return [float(x) for x in np.round(rng.standard_normal(dim), 6)]


MEDIA_META = StructType(
    [
        StructField("url", StringType(), False),
        StructField("mime", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("content_hash", StringType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)


def media_metadata_stage(
    df: DataFrame, payload_col: str = "html", include_features: bool = True
) -> DataFrame:
    """binary column → (mime, size, hash[, stub features]), Arrow-batched.

    ``include_features=False`` is manual column pruning across the UDF
    boundary: Catalyst prunes columns a plan doesn't read, but it cannot
    see inside an opaque mapInPandas — a consumer that drops ``features``
    afterwards would still pay for computing them (the per-row RandomState
    init dominates this stage's cost). Callers that only need metadata
    must say so here, where the work happens."""

    out_schema = (
        MEDIA_META
        if include_features
        else StructType([f for f in MEDIA_META.fields if f.name != "features"])
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = [bytes(p) if p is not None else b"" for p in pdf[payload_col]]
            cols = {
                "url": pdf["url"],
                "mime": [sniff_mime(p) for p in payloads],
                "n_bytes": [len(p) for p in payloads],
                "content_hash": [hashlib.md5(p).hexdigest() for p in payloads],
            }
            if include_features:
                cols["features"] = [fake_features(p) for p in payloads]
            yield pd.DataFrame(cols)

    return df.select("url", payload_col).mapInPandas(gen, schema=out_schema)

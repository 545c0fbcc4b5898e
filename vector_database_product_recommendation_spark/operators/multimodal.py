"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded/feature-extracted executor-side in Arrow batches.

No image/audio decoder ships with the engine. What IS real — and
tested — is everything Spark-side: the (id, payload binary, meta struct)
schema, the mapInPandas batch shape, partition-preserving feature
extraction, and downstream composability (features -> KNN / dedup operate
unchanged).

`fake_feature_decoder` stands in for decode + feature extraction: an
md5-derived 8-dim feature vector whose arithmetic is mirrored in the
DuckDB oracle (registry: multimodal_features), so even the UDF plumbing
is value-checked cross-engine.

Scale notes: payloads never shuffle (feature extraction is row-local);
features are small arrays; metadata predicates (format/width filters)
stay Column expressions so they push down to the parquet scan and prune
row groups BEFORE any Python worker sees a payload.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

FEATURE_DIM = 8
# resize_payload's output size, and audio_frame_windows' frame width and
# hop, all in bytes
TARGET_BYTES = 256
FRAME_BYTES = 100
HOP_BYTES = 50


def attach_payload(docs: DataFrame) -> DataFrame:
    """Build a multimodal-shaped table from the documents fixture:
    (doc_id, payload binary, meta struct<format,n_bytes>). Stands in for
    an image/audio table; the payload is the UTF-8 text bytes."""
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("format"),
            F.length(payload).alias("n_bytes"),
        ).alias("meta"),
    )


def fake_feature_decoder(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for image decode + feature extraction:
    feature[j] = (md5_60(md5hex(payload) || '|' || j) % 1e6) / 1e6, md5_60 the
    first 15 hex digits of an md5 as an integer.
    Mirrored exactly by the SQL oracle."""
    hx = hashlib.md5(payload).hexdigest()
    out = np.empty(FEATURE_DIM, dtype=np.float64)
    for j in range(FEATURE_DIM):
        h = int(hashlib.md5(f"{hx}|{j}".encode()).hexdigest()[:15], 16)
        out[j] = (h % 1_000_000) / 1_000_000.0
    return out


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: (doc_id, features array<double>)
    through ``fake_feature_decoder``.

    One Arrow batch in, one out; payload bytes stay inside the task. The
    decoder is a plain bytes->ndarray call, so a real decoder drops in
    without touching the Spark plumbing.
    """
    out_schema = f"doc_id {media.schema['doc_id'].dataType.simpleString()}, features array<double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats = [fake_feature_decoder(bytes(p)).tolist() for p in pdf["payload"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return media.select("doc_id", "payload").mapInPandas(run, out_schema)


def resize_payload(media: DataFrame) -> DataFrame:
    """Image-resize-shaped op: payload -> fixed-size payload + updated meta.

    The stand-in transform truncates/zero-pads to ``TARGET_BYTES`` (a real
    resize is also bytes -> smaller bytes, row-local); meta records both
    the original and new size, the shape a real thumbnailing pipeline
    carries. Pure mapInPandas — payloads never leave the task, output
    partitioning == input partitioning.
    """
    out_schema = (
        f"doc_id {media.schema['doc_id'].dataType.simpleString()}, "
        f"payload binary, meta struct<format:string,n_bytes:int,orig_bytes:int>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            resized, metas = [], []
            for p in pdf["payload"]:
                b = bytes(p)
                out = b[:TARGET_BYTES].ljust(TARGET_BYTES, b"\x00")
                resized.append(out)
                metas.append(
                    {"format": "text/plain", "n_bytes": len(out), "orig_bytes": len(b)}
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": resized, "meta": metas})

    return media.select("doc_id", "payload").mapInPandas(run, out_schema)


def audio_frame_windows(media: DataFrame) -> DataFrame:
    """Audio-framing-shaped op: one row per (doc, frame) with byte offsets:
    ``FRAME_BYTES``-wide frames every ``HOP_BYTES``.

    Overlapping frame boundaries come from `sequence` + explode — pure
    Column expressions, no UDF, so the frame fan-out happens JVM-side and
    the payload column is sliced with `substring` (binary-safe) only for
    frames that survive any upstream filter. The real audio version swaps
    byte offsets for sample offsets; the plan shape is identical.
    """
    n = F.col("meta.n_bytes")
    starts = F.sequence(
        F.lit(0),
        F.greatest(n - F.lit(FRAME_BYTES), F.lit(0)),
        F.lit(HOP_BYTES),
    )
    return (
        media.withColumn("frame_start", F.explode(starts))
        .select(
            "doc_id",
            "frame_start",
            F.least(F.col("frame_start") + FRAME_BYTES, n).alias("frame_end"),
            F.expr(
                f"substring(payload, frame_start + 1, {FRAME_BYTES})"
            ).alias("frame_payload"),
        )
    )

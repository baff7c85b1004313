"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct —
the Spark-side contract (schema, partitioning, Arrow batch shape) is
real and tested; the actual codec work is stubbed behind
`DecoderUnavailable` / deterministic fakes because no image/audio
libraries exist in this container (mirrors how the reference shells
out to external tools it bundles — pdffigures2/grobid jars,
src/extractor/csxextract/extractors/figures2.py:19-56 — which we
likewise cannot run here).

Design for 100 TB: binaries never pass through a shuffle — decode /
feature-extract are map-only `mapInPandas` stages; only the (small)
extracted features are shuffled/joined downstream.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from pdfmef_spark.functions.zipimports import install_stable_zip_importers


class DecoderUnavailable(NotImplementedError):
    """Raised by real codec paths; the deterministic fake is the default
    in this container."""


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.StructType([
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("mime", T.StringType(), True),
        ]), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def synthetic_media(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic fake media table (seeded payload bytes + metadata)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_stable_zip_importers()
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                payload = hashlib.sha256(f"media-{kind}-{i}".encode()).digest() * 32
                rows.append(
                    {
                        "media_id": i,
                        "kind": kind,
                        "payload": payload,
                        "meta": {
                            "width": 64 + (i % 16) * 8,
                            "height": 64 + (i % 9) * 8,
                            "sample_rate": 16000 if kind == "audio" else None,
                            "n_frames": 30 if kind == "video" else None,
                            "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n, numPartitions=4).mapInPandas(gen, schema=MEDIA_SCHEMA)


def _fake_decode_features(payload: bytes, kind: str, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in for decode+embed: hash-seeded pseudo-features.

    A real deployment replaces this one function with PIL/torchvision/
    torchaudio decode; the Spark plumbing around it is unchanged.
    """
    if payload is None:
        raise DecoderUnavailable("null payload")
    digest = hashlib.sha256(payload).digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "little"))
    return rng.standard_normal(dim).astype(np.float32)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Map-only feature extraction over binary payloads (Arrow-batched,
    per-row error capture; payloads never shuffle)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_stable_zip_importers()
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                try:
                    feat = _fake_decode_features(bytes(payload), kind, dim)
                    out.append(
                        {
                            "media_id": int(mid),
                            "kind": kind,
                            "feature": feat.tolist(),
                            "content_sha": hashlib.sha256(bytes(payload)).hexdigest(),
                            "error": None,
                        }
                    )
                except Exception as exc:
                    out.append(
                        {
                            "media_id": int(mid), "kind": kind, "feature": None,
                            "content_sha": None, "error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FEATURES_SCHEMA])

    return media.select("media_id", "kind", "payload").mapInPandas(run, schema=FEATURES_SCHEMA)


def resize_plan(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning (pure metadata math, JVM-side): target dims
    preserving aspect ratio — the decode-and-resample step itself is the
    stubbed codec call."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(max_side) / F.greatest(w, h), F.lit(1.0))
    return media.select(
        "media_id",
        "kind",
        w.alias("width"),
        h.alias("height"),
        F.round(w * scale).cast("int").alias("target_width"),
        F.round(h * scale).cast("int").alias("target_height"),
    )


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame sampling plan for video rows: explode sampled frame indices."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n))
            ).alias("frame_idx"),
        )
    )

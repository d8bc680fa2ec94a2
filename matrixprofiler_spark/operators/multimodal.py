"""Media faces: image/audio rows as opaque ``binary`` payloads with typed
metadata, reduced to features by Arrow-batched kernels over ``mapInPandas``.

The media table is derived from the documents table (``media_from_documents``)
and decoded by one closed-form rule: the payload bytes, repeated row-major
to the declared sample count (``_tile``). No image or audio format is
parsed. Because an ANSI-SQL engine can re-derive the same bytes
positionally, the two faces (``image_features_exact``,
``audio_features_exact``) hash-match their DuckDB oracles.

Schema of a media table:
    media_id: string, kind: string ('image'|'audio'), payload: binary,
    meta: struct<width:int, height:int, channels:int,
                 sample_rate:int, n_samples:int>
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _tile(payload: bytes, n: int) -> np.ndarray:
    """``payload``'s bytes repeated end to end and cut to ``n`` (uint8)."""
    b = np.frombuffer(payload, dtype=np.uint8)
    return np.tile(b, -(-n // b.size))[:n]


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table derived from the documents table (payload = utf-8 text
    bytes, dimensions closed-form in doc_id/length) — the oracle-reachable
    face of the media pipeline: an ANSI-SQL engine can re-derive payload
    bytes positionally (ascii-only corpus), so decode->feature outputs are
    hash-verifiable end to end. Even doc_id -> image, odd -> audio."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("long")
    none_i = F.lit(None).cast("int")
    imgs = docs.filter(did % 2 == 0).select(
        F.concat(F.lit("img_"), did.cast("string")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            (F.lit(8) + did % 8).cast("int").alias("width"),
            (F.lit(8) + did % 5).cast("int").alias("height"),
            F.lit(3).alias("channels"),
            none_i.alias("sample_rate"),
            none_i.alias("n_samples"),
        ).alias("meta"),
    )
    auds = docs.filter(did % 2 == 1).select(
        F.concat(F.lit("aud_"), did.cast("string")).alias("media_id"),
        F.lit("audio").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            none_i.alias("width"),
            none_i.alias("height"),
            none_i.alias("channels"),
            F.lit(16000).alias("sample_rate"),
            (F.lit(1600) + (F.length("text") * 7) % 8000).cast("int").alias("n_samples"),
        ).alias("meta"),
    )
    return imgs.unionByName(auds)


IMAGE_EXACT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("n_pix", T.IntegerType(), False),
        T.StructField("mean_lum", T.DoubleType(), False),
        T.StructField("std_lum", T.DoubleType(), False),
    ]
)


def image_features_exact(media: DataFrame) -> DataFrame:
    """tile decode -> luminance stats from EXACT integer sums with the
    oracle's expression tree: t_p = r+g+b per pixel (int), mean_lum =
    S/(npix*3.0), std_lum = sqrt((S2/9.0)/npix - mean*mean)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                h, w, c = meta["height"], meta["width"], meta["channels"]
                img = _tile(bytes(payload), h * w * c).reshape(h, w, c)
                t = img.astype(np.int64).sum(axis=2).ravel()
                npix = t.size
                s = int(t.sum())
                s2 = int((t * t).sum())
                mean = s / (npix * 3.0)
                std = np.sqrt((s2 / 9.0) / npix - mean * mean)
                rows.append((mid, npix, mean, float(std)))
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_EXACT_SCHEMA.fields])

    return media.filter(F.col("kind") == "image").mapInPandas(
        kernel, schema=IMAGE_EXACT_SCHEMA
    )


AUDIO_EXACT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("duration_sec", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("zcr", T.DoubleType(), False),
    ]
)


def audio_features_exact(media: DataFrame) -> DataFrame:
    """tile decode -> global stats from EXACT integer sums over the
    samples d = b - 128 (the waveform is d/128): rms = sqrt((SS/16384.0)/n),
    zcr = sign-changes/(n-1)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                d = _tile(bytes(payload), meta["n_samples"]).astype(np.int64) - 128
                n = d.size
                ss = int((d * d).sum())
                rms = np.sqrt((ss / 16384.0) / n)
                zc = int(((d[1:] * d[:-1]) < 0).sum())
                rows.append((mid, n, n / 16000.0, float(rms), zc / (n - 1.0)))
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_EXACT_SCHEMA.fields])

    return media.filter(F.col("kind") == "audio").mapInPandas(
        kernel, schema=AUDIO_EXACT_SCHEMA
    )

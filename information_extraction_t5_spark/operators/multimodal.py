"""Multimodal column plumbing (binary payloads + typed metadata).

Images/audio/video ride as opaque ``binary`` columns with a metadata
struct; feature extraction runs as an Arrow-batched mapInPandas stage.
The feature is a deterministic stub, ``_fake_feature`` (sha256 of the
payload's hex), so the ``media_features`` query can be replayed by a SQL
oracle.  No codec is decoded here.
"""
from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "meta struct<width:int, height:int, duration_ms:int, codec:string>"
)

FEATURE_SCHEMA = "media_id string, kind string, feature array<float>, ok boolean"


def synthetic_media_df(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * 8
        rows.append(
            (
                f"m_{i:05d}",
                kind,
                bytearray(payload),
                (64 + i % 512, 64 + (i * 7) % 512, 1000 + i, "fake"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_feature(payload: bytes, dim: int = 8) -> list:
    """Deterministic pseudo-embedding from payload bytes.

    Hashes the lowercase hex of the payload (not the raw bytes) so a SQL
    oracle can replay it engine-portably — DuckDB's sha256() only takes
    VARCHAR."""
    h = hashlib.sha256((payload or b"").hex().encode()).digest()
    return [round(b / 255.0, 6) for b in h[:dim]]


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads: one
    ``_fake_feature`` vector per row, ``ok`` always true (the stub cannot
    fail; the column stays part of the ``media_features`` contract)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["media_id", "kind"]].copy()
            out["feature"] = [
                _fake_feature(bytes(payload or b""), dim)
                for payload in pdf["payload"]
            ]
            out["ok"] = True
            yield out

    return media.mapInPandas(gen, schema=FEATURE_SCHEMA)

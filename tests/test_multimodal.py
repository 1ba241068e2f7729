"""Multimodal binary-column plumbing: metadata extraction is JVM-real;
decode runs through mapInPandas with injected deterministic
fakes (codecs are stubbed in this environment by design)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from research_index_backend_spark.operators.multimodal import (
    attach_binary_metadata,
    extract_features,
)

SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("payload", BinaryType()),
])


@pytest.fixture()
def media(spark):
    rows = [(i, bytes([i]) * (8 + i)) for i in range(4)]
    return spark.createDataFrame(rows, SCHEMA)


def test_binary_metadata_jvm_side(spark, media):
    got = {r["media_id"]: r for r in attach_binary_metadata(media).collect()}
    for i in range(4):
        payload = bytes([i]) * (8 + i)
        assert got[i]["byte_len"] == len(payload)
        assert got[i]["sha256"] == hashlib.sha256(payload).hexdigest()


def test_extract_features_fake_decoder(spark, media):
    def fake_decoder(payload: bytes) -> dict:
        return {"width": len(payload), "height": 2, "n_channels": 3,
                "mean_intensity": float(payload[0])}

    got = {r["media_id"]: r for r in
           extract_features(media, decoder=fake_decoder).collect()}
    assert got[1]["width"] == 9
    assert got[1]["mean_intensity"] == 1.0
    assert got[3]["n_channels"] == 3


def test_stubbed_decode_raises(spark, media):
    with pytest.raises(NotImplementedError):
        extract_features(media, decoder=None)

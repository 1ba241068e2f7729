"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Beyond the reference (it is text-only), a training-data pipeline carries
media as `binary` columns with a metadata struct, and runs decode /
feature-extract as Arrow-batched functions over `mapInPandas`. The Spark-side plumbing here — schemas, batch iteration,
partition sizing — is real and tested; the actual codec calls are STUBBED
(image/audio libraries are not in this environment) behind
`decoder=` hooks with a deterministic fake used in tests.

Scale design:
- Binary payloads ride the normal columnar path (Parquet BYTE_ARRAY);
  metadata extraction that only needs headers should be pushed to a
  separate narrow column at ingest so analytic scans never read payloads
  (column pruning does the rest).
- mapInPandas streams Arrow batches — peak executor memory is
  O(batch payload), tuned via spark.sql.execution.arrow.maxRecordsPerBatch
  (set this low, e.g. 64, for multi-MB media rows).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),      # image | audio | video
    StructField("payload", BinaryType()),
    StructField("byte_len", LongType()),
    StructField("sha256", StringType()),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("mean_intensity", DoubleType()),
])


def attach_binary_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Header-free metadata (length, content hash) as JVM expressions —
    no Python, no decode; this is the narrow column analytic scans read."""
    return (
        df.withColumn("byte_len", F.octet_length(payload_col).cast("long"))
        .withColumn("sha256", F.sha2(F.col(payload_col), 256))
    )


def _require_decoder(decoder):
    if decoder is None:
        raise NotImplementedError(
            "media codecs are not available in this environment — pass a "
            "decoder callable (e.g. PIL/libav-backed) to run real decode")


def deterministic_fake_decoder(payload: bytes) -> dict:
    """Codec-free stand-in decoder: all features are exact integer /
    dyadic-rational functions of the byte length, so a pipeline wired
    through the REAL mapInPandas path can be verified against a SQL
    oracle bit-for-bit (mean_intensity divides by 4 — exact in binary
    floating point, unlike /10)."""
    n = len(payload)
    return {
        "width": n % 640 + 1,
        "height": n % 480 + 1,
        "n_channels": 3,
        "mean_intensity": (n % 1021) / 4.0,
    }


def extract_features(df: DataFrame,
                     decoder: Callable[[bytes], dict] | None = None,
                     payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """Decode + feature-extract via mapInPandas (U2-shaped: 1 row -> N cols).

    decoder(payload_bytes) -> {width, height, n_channels, mean_intensity}.
    STUB: decoding is delegated to `decoder`; tests inject a deterministic
    fake. The Spark plumbing (Arrow batches, schema, iterator protocol) is
    the real, exercised surface.
    """
    _require_decoder(decoder)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decoder(p) for p in pdf[payload_col]]
            out = pd.DataFrame({
                "media_id": pdf[id_col].values,
                "width": pd.array([f["width"] for f in feats], dtype="int32"),
                "height": pd.array([f["height"] for f in feats], dtype="int32"),
                "n_channels": pd.array([f["n_channels"] for f in feats],
                                       dtype="int32"),
                "mean_intensity": [f["mean_intensity"] for f in feats],
            })
            yield out

    return df.select(id_col, payload_col).mapInPandas(run, FEATURE_SCHEMA)

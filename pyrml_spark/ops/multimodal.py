"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed through Arrow-batched ``mapInPandas`` stages.

The container has no image/audio libraries, so the *codec* step is stubbed
behind a deterministic fake (or ``NotImplementedError`` for real formats) —
but the Spark-side plumbing is real and tested: schemas, batch shapes, UDF
signatures, partition routing. Swapping the fake for PIL/torchaudio changes
one function, not the plan.

Scale design: payloads travel as binary columns (Arrow zero-copy into the
UDF); feature extraction is a narrow map (no shuffle); routing/grouping keys
(media kind, shard) are computed natively before the UDF so Catalyst can
partition-prune without touching payload bytes.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("payload_sha1", T.StringType()),
        # float64 decode→pool→sum checksum: the driver oracle re-derives it
        # in SQL, proving the Arrow decode path end to end
        T.StructField("feature_sum", T.DoubleType()),
    ]
)

FAKE_FORMAT_MAGIC = b"FAKE"


def synth_media_table(spark: SparkSession, media_refs: DataFrame) -> DataFrame:
    """Attach deterministic fake payloads to (media_ref, kind) rows.

    Fake format: b"FAKE" + 8-byte md5-derived seed + 64 payload bytes
    (sha256(str(seed)) × 2) — enough structure for the decoder stub to
    validate and 'decode', and reproducible in plain SQL (md5 + sha256 are
    engine-portable), which is what lets the driver oracle check the whole
    Arrow decode path."""
    from ..kg.datagen import _h_md5

    seeded = media_refs.withColumn("seed", _h_md5(F.col("media_ref")))

    @F.pandas_udf(T.BinaryType())
    def make_payload(seed: pd.Series) -> pd.Series:
        out = []
        for s in seed:
            body = hashlib.sha256(str(int(s)).encode()).digest() * 2  # 64 bytes
            out.append(FAKE_FORMAT_MAGIC + struct.pack(">q", int(s)) + body)
        return pd.Series(out)

    dims = seeded.select(
        "media_ref",
        "kind",
        make_payload("seed").alias("payload"),
        F.when(F.col("kind") == "image",
               (F.pmod(F.col("seed"), F.lit(512)) + 32).cast("int")).alias("width"),
        F.when(F.col("kind") == "image",
               (F.pmod(F.col("seed"), F.lit(384)) + 32).cast("int")).alias("height"),
        F.when(F.col("kind") == "audio", F.lit(16000)).alias("sample_rate"),
        F.when(F.col("kind") == "audio",
               (F.pmod(F.col("seed"), F.lit(48000)) + 1600).cast("int"))
        .alias("n_samples"),
    )
    return dims


def decode_payload(payload: bytes, kind: str) -> np.ndarray:
    """Codec stub. Real formats raise; the deterministic FAKE format decodes
    to a float vector (what a pixel/waveform array would be)."""
    if payload[:4] != FAKE_FORMAT_MAGIC:
        raise NotImplementedError(
            "real image/audio codecs are not available in this container — "
            "plug PIL/torchaudio here; the FAKE format covers the plumbing"
        )
    body = payload[12:]
    arr = np.frombuffer(body, dtype=np.uint8).astype(np.float32)
    return arr / 255.0


def extract_features(media: DataFrame, feat_dim: int = 16) -> DataFrame:
    """mapInPandas feature extractor: decode (stub) → pooled feature vector.
    Arrow-batched; payload bytes never leave the executor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            shas = []
            fsums = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                arr = decode_payload(bytes(payload), kind)
                trimmed = arr[: (len(arr) // feat_dim) * feat_dim]
                pooled = trimmed.reshape(-1, feat_dim).mean(axis=0)
                feats.append(pooled.astype(np.float32).tolist())
                shas.append(hashlib.sha1(bytes(payload)).hexdigest())
                # float64 from the raw bytes (not the float32 product
                # vector — its rounding would leak into the checksum)
                raw64 = np.frombuffer(bytes(payload)[12:], dtype=np.uint8) \
                    .astype(np.float64) / 255.0
                pooled64 = raw64[: (len(raw64) // feat_dim) * feat_dim] \
                    .reshape(-1, feat_dim).mean(axis=0)
                fsums.append(float(pooled64.sum()))
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "payload_sha1": shas,
                    "feature_sum": fsums,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing query: media refs from the interleaved corpus → fake
    payloads → Arrow-batched feature extraction.

    Oracle-checked (ORACLE_MEDIA_FEATURES): the md5-seeded fake payloads and
    sha256 body are reproducible in SQL, so DuckDB re-derives every row —
    including the decode→pool→sum checksum that only exists on the far side
    of the mapInPandas stage."""
    from ..kg.datagen import generate_documents
    from ..kg.extract import media_spans

    docs = generate_documents(spark, 300, hash_family="md5")
    refs = media_spans(docs).select("media_ref", "kind").distinct()
    media = synth_media_table(spark, refs)
    return extract_features(media).select(
        "media_ref", "kind",
        F.round("feature_sum", 4).alias("feature_sum"),
    )


def _h_sql(args: str) -> str:
    return f"CAST('0x' || substr(md5(concat_ws(':', {args})), 1, 15) AS BIGINT)"


# regenerate the md5-family corpus refs, seeds and sha256 body in SQL;
# feature_sum = sum of column means of the 64 body bytes / 255 laid out as
# a (4, 16) matrix — i.e. (Σ bytes)/255/4 with the digest repeated twice
ORACLE_MEDIA_FEATURES = f"""
WITH docs AS (SELECT unnest(generate_series(0, 299)) AS doc),
nsp AS (
  SELECT doc, 3 + ({_h_sql("doc, 'nspans'")} % 6) AS n_spans FROM docs
),
sp AS (SELECT doc, unnest(generate_series(0, n_spans - 1)) AS i FROM nsp),
hv AS (
  SELECT doc, i, {_h_sql("doc, i, 'kind'")} % 5 AS kind_sel FROM sp
),
refs AS (
  SELECT DISTINCT printf('media://doc-%08d/%d', doc, i) AS media_ref,
         CASE WHEN kind_sel = 3 THEN 'image' ELSE 'audio' END AS kind
  FROM hv WHERE kind_sel >= 3
),
seeded AS (
  SELECT media_ref, kind, {_h_sql("media_ref")} AS seed FROM refs
),
digest AS (
  SELECT media_ref, kind, sha256(CAST(seed AS VARCHAR)) AS dhex FROM seeded
),
bytes AS (
  SELECT media_ref, kind,
         sum(CAST('0x' || substr(dhex, 2 * b.i - 1, 2) AS INTEGER)) AS bsum
  FROM digest CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS i) b
  GROUP BY media_ref, kind
)
SELECT media_ref, kind,
       round((2.0 * bsum) / 255.0 / 4.0, 4) AS feature_sum
FROM bytes
"""

"""Structured-Streaming ingestion for the KG pipeline.

The reference is batch-only (SURVEY.md §2 "not present in the reference");
this is the Spark-native continuous-ingest path a production KG needs:
documents arrive as files (or Kafka at deployment), mention extraction (the
batch extractor, ``kg/extract.mentions_native``) and triple expansion run as
stateless streaming transforms, and duplicate mentions within the watermark
window are dropped with
``withWatermark + dropDuplicatesWithinWatermark`` (state evicted as the
watermark advances, so dedup state is bounded).

Canonicalization is iterative (not expressible as a streaming op), so the
deployment pattern is: stream triples into the bronze (s,p,o,g) table,
re-run the canonical-mapping batch stage on a schedule, and rewrite at read
time through the mapping — the lineage manifest records both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kg.extract import mention_triples, mentions_native

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("ingest_ts", T.TimestampType()),
    ]
)


def read_document_stream(spark: SparkSession, input_dir: str,
                         max_files_per_trigger: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_mentions(docs_stream: DataFrame,
                    watermark: str = "10 minutes") -> DataFrame:
    """The batch extractor (:func:`~pyrml_spark.kg.extract.mentions_native`)
    over the stream, then watermarked dedup of repeated mentions. The
    extractor carries ``ingest_ts`` through the explode, so no
    stream-stream self-join (which would need its own watermarks) is
    needed to get it back."""
    with_ts = docs_stream.withColumn(
        "ingest_ts", F.coalesce(F.col("ingest_ts"), F.current_timestamp())
    )
    # dropDuplicatesWithinWatermark: plain dropDuplicates on keys that
    # exclude the event-time column never expires its state (the watermark
    # only prunes when event time is part of the key) — state would grow
    # without bound in a long-running stream. The WithinWatermark variant
    # evicts dedup state once the watermark passes each key's first-seen
    # event time, which is the semantics we want: duplicates arrive close
    # together (re-delivered files), not weeks apart.
    return (mentions_native(with_ts).withWatermark("ingest_ts", watermark)
            .dropDuplicatesWithinWatermark(
                ["doc_id", "span_idx", "etype", "surface"]))


def stream_kg_triples(docs_stream: DataFrame,
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming (s,p,o,g) bronze triples from the mention stream."""
    return mention_triples(stream_mentions(docs_stream, watermark))


def write_triples_stream(triples: DataFrame, out_dir: str,
                         checkpoint_dir: str, available_now: bool = True):
    """Append sink with checkpointing; availableNow drains the backlog and
    stops (used in tests; a deployment would run continuous triggers)."""
    w = (
        triples.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()

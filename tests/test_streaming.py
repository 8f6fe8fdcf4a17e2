"""Structured-Streaming KG ingest: file source → extraction → watermarked
dedup → parquet sink, drained with availableNow."""

import os
import tempfile

from pyspark.sql import functions as F

from pyrml_spark.kg.datagen import generate_documents
from pyrml_spark.kg.extract import mentions_native
from pyrml_spark.streaming.kg_stream import (
    read_document_stream,
    stream_kg_triples,
    stream_mentions,
    write_triples_stream,
)


def test_stream_matches_batch(spark):
    with tempfile.TemporaryDirectory() as d:
        in_dir = os.path.join(d, "in")
        out_dir = os.path.join(d, "out")
        ckpt = os.path.join(d, "ckpt")
        docs = generate_documents(spark, 100).withColumn(
            "ingest_ts", F.timestamp_seconds(F.lit(1700000000))
        )
        # two file batches
        docs.filter(F.col("doc_id") < "doc-00000050").write.parquet(
            in_dir, mode="overwrite")
        docs.filter(F.col("doc_id") >= "doc-00000050").write.mode(
            "append").parquet(in_dir)

        stream = read_document_stream(spark, in_dir)
        assert stream.isStreaming
        triples = stream_kg_triples(stream)
        q = write_triples_stream(triples, out_dir, ckpt)
        q.awaitTermination(120)

        got = spark.read.parquet(out_dir)
        batch_mentions = mentions_native(docs.select("doc_id", "spans"))
        from pyrml_spark.kg.extract import mention_triples

        expected = mention_triples(batch_mentions).dropDuplicates(
            ["s", "p", "o", "g"])
        got_set = {tuple(r) for r in got.select("s", "p", "o", "g")
                   .dropDuplicates().collect()}
        exp_set = {tuple(r) for r in expected.collect()}
        assert got_set == exp_set
        assert len(got_set) > 0


def test_stream_mentions_schema(spark):
    with tempfile.TemporaryDirectory() as d:
        in_dir = os.path.join(d, "in")
        generate_documents(spark, 20).withColumn(
            "ingest_ts", F.current_timestamp()
        ).write.parquet(in_dir)
        m = stream_mentions(read_document_stream(spark, in_dir))
        assert {"doc_id", "etype", "surface", "offset"} <= set(m.columns)
        assert m.isStreaming

"""Structured-Streaming KG ingest: file source → extraction → watermarked
dedup → parquet sink, drained with availableNow."""

import ast
import os
import pathlib
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


def test_stream_mentions_equal_batch_extractor(spark, tmp_path):
    """The stream runs the batch extractor: drained mentions equal
    ``mentions_native`` on the same documents, and keep ``ingest_ts``."""
    in_dir = str(tmp_path / "in")
    docs = generate_documents(spark, 60).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000)))
    docs.write.parquet(in_dir)
    m = stream_mentions(read_document_stream(spark, in_dir))
    # the append sink takes any frame, not only triples
    write_triples_stream(m, str(tmp_path / "out"),
                         str(tmp_path / "ckpt")).awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.filter(F.col("ingest_ts").isNull()).count() == 0
    cols = ["doc_id", "span_idx", "offset", "etype", "surface"]
    got_rows = sorted(tuple(r) for r in got.select(*cols).collect())
    exp_rows = sorted(tuple(r) for r in mentions_native(
        docs.select("doc_id", "spans")).select(*cols).collect())
    assert got_rows == exp_rows and got_rows


PKG = pathlib.Path(__file__).resolve().parent.parent / "pyrml_spark"


def test_regexp_extract_all_only_in_the_extractor():
    """One mention extractor: under kg/ and streaming/, only kg/extract.py
    calls ``regexp_extract_all`` (calls only — the DuckDB oracle SQL
    strings in kg/entry.py do not count)."""
    callers = set()
    for path in sorted([*(PKG / "kg").rglob("*.py"),
                        *(PKG / "streaming").rglob("*.py")]):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None)
                if name == "regexp_extract_all":
                    callers.add(path.relative_to(PKG).as_posix())
    assert callers == {"kg/extract.py"}, callers

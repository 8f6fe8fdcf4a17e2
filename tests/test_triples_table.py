"""Partitioned triples-table sink (kg/table.py) — fallback layout and
the no-silent-downgrade contract for the Iceberg path
(no Iceberg runtime jar in this sandbox; the catalog detection and writer-v2
construction are the testable surface)."""

import os

import pytest
from pyspark.sql import functions as F

from pyrml_spark.kg.table import (
    DEFAULT_BUCKETS,
    iceberg_catalogs,
    read_triples_table,
    write_triples_table,
)


def _triples(spark, n=200):
    return spark.range(n).select(
        F.concat(F.lit("<http://ex.com/s/"), F.col("id"), F.lit(">")).alias("s"),
        F.lit("<http://ex.com/p>").alias("p"),
        F.concat(F.lit('"v'), F.col("id"), F.lit('"')).alias("o"),
        F.lit("<http://ex.com/g>").alias("g"),
    )


def test_fallback_parquet_roundtrip_and_layout(spark, tmp_path):
    tgt = str(tmp_path / "triples")
    df = _triples(spark)
    write_triples_table(df, tgt, n_buckets=8)
    # partitioned directory layout, one file per bucket (aligned write)
    buckets = [d for d in os.listdir(tgt) if d.startswith("subject_bucket=")]
    assert 1 <= len(buckets) <= 8
    for b in buckets:
        files = [f for f in os.listdir(os.path.join(tgt, b))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
    back = read_triples_table(spark, tgt)
    assert back.columns == ["s", "p", "o", "g"]
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_missing_columns_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="missing"):
        write_triples_table(spark.range(3).select(F.col("id").alias("s")),
                            str(tmp_path / "x"))


def test_iceberg_requires_catalog(spark, tmp_path):
    """Asking for iceberg without a configured catalog raises — never a
    silent parquet downgrade."""
    assert iceberg_catalogs(spark) == []
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        write_triples_table(_triples(spark), "cat.db.triples", fmt="iceberg")


def test_auto_format_picks_parquet_without_catalog(spark, tmp_path):
    tgt = str(tmp_path / "auto")
    write_triples_table(_triples(spark, 10), tgt)  # fmt=None → parquet here
    assert read_triples_table(spark, tgt).count() == 10


def test_relative_path_led_by_catalog_name_is_a_path(spark):
    """Write and read share one routing rule: with an Iceberg catalog named
    ``local`` configured (conf only; no runtime jar), the relative path
    ``local.d<id>/kg`` is a parquet path both ways, never ``writeTo``.
    Spark resolves relative paths against the JVM's working directory, so
    the test finds its output through the read-back and removes it."""
    import shutil
    import uuid

    conf = "spark.sql.catalog.local"
    root = f"local.d{uuid.uuid4().hex[:8]}"
    target = f"{root}/kg"
    written = None
    spark.conf.set(conf, "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert "local" in iceberg_catalogs(spark)
        df = _triples(spark, 10)
        write_triples_table(df, target, n_buckets=4)
        back = read_triples_table(spark, target)
        written = back.inputFiles()[0]
        assert {tuple(r) for r in back.collect()} \
            == {tuple(r) for r in df.collect()}
    finally:
        spark.conf.unset(conf)
        if written is not None:
            local = written.split("file:", 1)[-1].lstrip("/")
            shutil.rmtree("/" + local[: local.index(root) + len(root)])

"""Multimodal plumbing tests: schema, batch shape, determinism, stub codec."""

import pytest

from pyrml_spark.kg.datagen import generate_documents
from pyrml_spark.kg.extract import media_spans
from pyrml_spark.ops.multimodal import (
    FAKE_FORMAT_MAGIC,
    decode_payload,
    extract_features,
    synth_media_table,
)


@pytest.fixture(scope="module")
def media(spark):
    docs = generate_documents(spark, 150)
    refs = media_spans(docs).select("media_ref", "kind").distinct()
    return synth_media_table(spark, refs).cache()


def test_media_table_schema_and_metadata(media):
    rows = media.collect()
    assert rows
    for r in rows:
        assert bytes(r["payload"])[:4] == FAKE_FORMAT_MAGIC
        if r["kind"] == "image":
            assert r["width"] >= 32 and r["height"] >= 32
            assert r["sample_rate"] is None
        else:
            assert r["sample_rate"] == 16000 and r["n_samples"] > 0
            assert r["width"] is None


def test_feature_extraction_deterministic(media):
    a = {r["media_ref"]: (tuple(r["feature"]), r["payload_sha1"])
         for r in extract_features(media).collect()}
    b = {r["media_ref"]: (tuple(r["feature"]), r["payload_sha1"])
         for r in extract_features(media.repartition(7)).collect()}
    assert a == b
    dims = {len(f) for f, _ in a.values()}
    assert dims == {16}


def test_decode_rejects_real_formats():
    with pytest.raises(NotImplementedError):
        decode_payload(b"\x89PNG\r\n\x1a\n....", "image")


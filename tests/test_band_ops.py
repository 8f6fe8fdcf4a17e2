"""Edge inputs for the banded LSH operators (MinHash, SimHash, cosine LSH)
and the word-shingle operators: empty input, one hot band key shared by
every row, and documents shorter than a shingle. Each result is checked
against the operator's DuckDB oracle where one exists."""

import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyrml_spark.ops import OPS_ORACLES, OPS_QUERIES
from pyrml_spark.ops import similarity as S


def _write_docs(tmp_path, texts):
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                  "text": pa.array(texts, pa.string())}),
        str(d / "documents.parquet"))
    return str(d)


def _sorted_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(r[i] for i in order) for r in rows)


def _assert_matches_oracle(sdf, name, sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    res = con.sql(OPS_ORACLES[name])
    got = _sorted_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    want = _sorted_rows(res.columns, res.fetchall())
    assert got == want


SHORT_TEXTS = [
    "the quick brown fox jumps over the lazy dog",  # doc 0: decon bench
    "the quick brown fox jumps over a lazy cat",
    "",
    "one",
    "one two",
    None,
    "alpha beta gamma delta",
    "alpha beta gamma delta",
    "one two three",
]


@pytest.mark.parametrize("name", [
    "dedup_ngram_jaccard", "dedup_neardup_clusters", "dedup_minhash_lsh",
    "text_decontaminate"])
def test_shingle_ops_accept_documents_shorter_than_a_shingle(spark, tmp_path,
                                                            name):
    """Texts with fewer words than the shingle length (empty, one and two
    words) have no shingles, as in the oracles, instead of failing the
    query with an invalid ``slice`` start."""
    sf_dir = _write_docs(tmp_path, SHORT_TEXTS)
    _assert_matches_oracle(OPS_QUERIES[name](spark, sf_dir), name, sf_dir)


@pytest.mark.parametrize("name, dtypes", [
    ("dedup_minhash_lsh", [("doc_a", "bigint"), ("doc_b", "bigint"),
                           ("jaccard_est", "double")]),
    ("dedup_simhash", [("doc_a", "bigint"), ("doc_b", "bigint"),
                       ("hamming", "int")]),
])
def test_band_ops_on_empty_input(spark, tmp_path, name, dtypes):
    """The cosine operator's empty case is in test_corpus_ops.py."""
    out = OPS_QUERIES[name](spark, _write_docs(tmp_path, []))
    assert out.dtypes == dtypes
    assert out.count() == 0


HOT_DOCS = 6


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_simhash"])
def test_band_ops_emit_each_pair_once_on_one_hot_key(spark, tmp_path, name):
    """Identical documents share every band, so every pair meets in every
    band; each of the C(n, 2) pairs must still come out exactly once."""
    sf_dir = _write_docs(tmp_path, ["the same five word text"] * HOT_DOCS)
    out = OPS_QUERIES[name](spark, sf_dir)
    pairs = [(r["doc_a"], r["doc_b"]) for r in out.collect()]
    assert len(pairs) == len(set(pairs)) == math.comb(HOT_DOCS, 2)
    _assert_matches_oracle(out, name, sf_dir)


@pytest.mark.parametrize("captured", [True, False],
                         ids=["captured_matrix", "attach_join"])
def test_lsh_cosine_neardup_emits_each_pair_once_on_one_hot_key(
        spark, monkeypatch, captured):
    """Identical vectors share all bands; both prune branches (captured
    matrix and attach join) give each pair once, with sim 1.0."""
    if not captured:
        monkeypatch.setattr(S, "CAPTURED_MATRIX_MAX_ELEMENTS", 0)
    emb = spark.createDataFrame([(i, [0.6, 0.8]) for i in range(HOT_DOCS)],
                                "vec_id long, embedding array<double>")
    rows = [tuple(r) for r in S.lsh_cosine_neardup(emb, dim=2).collect()]
    assert sorted(rows) == [(a, b, 1.0) for a in range(HOT_DOCS)
                            for b in range(a + 1, HOT_DOCS)]

"""Unit tests for the corpus-shaping ops beyond the oracle-parity sweep:
URL canonicalization edge cases, boilerplate-chunk semantics and the LSH
near-dup operator on an empty input and on unknown candidate ids."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from pyrml_spark.ops.corpus import (  # noqa: E402
    BOILERPLATE_MIN_DOCS,
    CAP_PER_SOURCE,
    canonical_url,
    sample_cap_per_source,
    text_boilerplate_chunks,
)

SF_DIR = "/root/testdata/sf0.001"


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    return [r[0] for r in
            df.select(canonical_url(F.col("url"))).collect()]


def test_canonical_url_edge_cases(spark):
    got = _canon(spark, [
        # scheme case + www + tracking + fragment + trailing slash
        "HTTPS://WWW.Example.COM/a/b/?utm_source=x&utm_medium=y#frag",
        # no scheme at all — must survive untouched apart from lowering
        "example.com/path",
        # tracking param in the middle of real params keeps the rest
        "http://ex.com/p?id=3&utm_campaign=z&page=2",
        # ref is tracking; fragment with slashes still dropped
        "https://ex.com/p?ref=rss#a/b/c",
        # only tracking params -> bare path, dangling '?' cleaned
        "https://www.ex.com/p/?fbclid=abc123",
        # multiple trailing slashes collapse
        "http://ex.com/dir///",
        # href is NOT the tracking param ref — must survive verbatim
        "http://ex.com/p?href=keep",
        # tracking first, real param after: '?' ownership transfers
        "http://ex.com/p?utm_source=a&id=7",
    ])
    assert got == [
        "example.com/a/b",
        "example.com/path",
        "ex.com/p?id=3&page=2",
        "ex.com/p",
        "ex.com/p",
        "ex.com/dir",
        "ex.com/p?href=keep",
        "ex.com/p?id=7",
    ]


def test_cap_per_source_is_exact_and_deterministic(spark):
    out1 = sample_cap_per_source(spark, SF_DIR)
    rows = out1.collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r.cap_rank)
    # every source capped at K with dense ranks 1..K
    for src, ranks in per_src.items():
        assert sorted(ranks) == list(range(1, CAP_PER_SOURCE + 1)), src
    # deterministic under a different shuffle width
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = sample_cap_per_source(spark, SF_DIR).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_boilerplate_removed_only_from_hot_chunks(spark):
    out = {r.doc_id: r for r in
           text_boilerplate_chunks(spark, SF_DIR).collect()}
    # injected boilerplate docs lose exactly their injected chunks
    for did, row in out.items():
        expected = (1 if did % 3 == 0 else 0) + (1 if did % 5 == 0 else 0)
        assert row.n_removed == expected, (did, row.n_removed, expected)
        assert "subscribe to our newsletter" not in row.clean_text
        assert "accept all cookies" not in row.clean_text
    # non-injected docs keep their text verbatim
    docs = {r.doc_id: r.text for r in
            spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()}
    clean_ids = [d for d in docs if d % 3 != 0 and d % 5 != 0]
    assert clean_ids, "corpus should contain uninjected docs"
    for did in clean_ids[:20]:
        assert out[did].clean_text == docs[did]
    assert BOILERPLATE_MIN_DOCS <= len(docs) // 3


def _boundary_corpus(tmp_path) -> str:
    """Two docs with 4 and 5 shingles sharing all 4: J = 4/5 = 0.8."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = "alpha beta gamma delta epsilon zeta"          # 4 shingles
    longer = base + " eta"                                # 5 shingles
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": [base, longer],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": pa.array([len(base), len(longer)], pa.int64()),
        }),
        str(d / "documents.parquet"))
    return str(d)


def test_ngram_jaccard_size_filter_keeps_boundary_pair(spark, tmp_path):
    """The join-side size-compatibility predicate (min >= t*max - eps) must
    not drop a pair sitting exactly on the boundary (J = 0.8 exactly at
    threshold 0.8)."""
    from pyrml_spark.ops.dedup import dedup_ngram_jaccard

    out = dedup_ngram_jaccard(spark, _boundary_corpus(tmp_path),
                              threshold=0.8).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out] == \
        [(1, 2, 0.8)]


def test_ngram_jaccard_leaves_the_cache_manager_empty(spark, tmp_path):
    """The shingle table's materialization is freed with the result: a
    persist would stay in the session's cache manager and serve a later
    call cached rows."""
    from pyrml_spark.ops.dedup import dedup_ngram_jaccard

    spark.catalog.clearCache()
    dedup_ngram_jaccard(spark, _boundary_corpus(tmp_path)).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lsh_cosine_neardup_empty_input(spark):
    from pyrml_spark.ops.similarity import lsh_cosine_neardup

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = lsh_cosine_neardup(emb)
    assert out.dtypes == [("vec_a", "bigint"), ("vec_b", "bigint"),
                          ("sim", "double")]
    assert out.count() == 0


def test_lsh_cosine_neardup_rejects_unknown_candidate_id():
    """The prune looks candidate ids up in the captured matrix; an id the
    embeddings lack must raise and name the id, not be scored against a
    neighbour's vector (id between two known ids) or index past the end
    (id above the largest)."""
    import numpy as np

    from pyrml_spark.ops.similarity import _captured_rows

    ids_sorted = np.array([2, 5, 9], dtype=np.int64)
    assert _captured_rows(ids_sorted, np.array([9, 2, 5])).tolist() == [2, 0, 1]
    for unknown in (7, 11, 0):
        with pytest.raises(ValueError, match=f"vec_id {unknown} "):
            _captured_rows(ids_sorted, np.array([5, unknown, 2]))


def test_lsh_cosine_neardup_probe_covers_matrix_ceiling(spark, monkeypatch):
    """The captured-matrix gate (rows × dim ≤ its element ceiling) must see
    a row count that can exceed the ceiling: a probe capped at the
    broadcast row ceiling let a low-dim table of any size pass the gate and
    be collected to the driver whole. Above the ceiling the operator takes
    the attach-join path, with the same result."""
    import math

    import pyrml_spark.ops.similarity as S
    import pyrml_spark.plans.tuning as tuning

    emb = spark.createDataFrame(
        [(i, [math.cos(0.05 * i), math.sin(0.05 * i)]) for i in range(20)],
        "vec_id long, embedding array<double>")
    expected = S.lsh_cosine_neardup(emb, dim=2)
    want = sorted(tuple(r) for r in expected.collect())
    assert want  # the fixture has near-duplicate pairs

    def no_collect(self):
        raise AssertionError("embedding table collected to the driver")

    monkeypatch.setattr(tuning, "BROADCAST_MAX_ROWS", 3)
    monkeypatch.setattr(S, "CAPTURED_MATRIX_MAX_ELEMENTS", 20)
    monkeypatch.setattr(type(emb), "toPandas", no_collect)
    out = S.lsh_cosine_neardup(emb, dim=2)
    assert out.schema == expected.schema
    assert sorted(tuple(r) for r in out.collect()) == want

"""North-rule KG pipeline tests: determinism, span-sequence invariant,
native≡pandas extractor, connected-components correctness, checkpoint
resume, partitioned output."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pyrml_spark.kg.canonicalize import canonical_mapping, connected_components
from pyrml_spark.kg.datagen import generate_documents
from pyrml_spark.kg.extract import (
    mentions_native,
    mentions_pandas,
    sameas_candidates,
)
from pyrml_spark.kg.pipeline import KGPipelineConfig, run_pipeline

N_DOCS = 200


def test_datagen_deterministic_across_parallelism(spark):
    """Same content at different parallelism — the sandbox proxy for the
    N vs 4N cluster-size determinism requirement."""
    a = generate_documents(spark, N_DOCS, partitions=2).collect()
    b = generate_documents(spark, N_DOCS, partitions=16).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    da = {r["doc_id"]: r["spans"] for r in a}
    db = {r["doc_id"]: r["spans"] for r in b}
    assert da == db


def test_span_sequence_invariant(spark):
    """Per-row span-sequence equality (kind, text, media_ref, order) must
    survive the pre-extraction stages (BASELINE.json input_hint)."""
    docs = generate_documents(spark, N_DOCS)
    rows = docs.collect()
    for r in rows:
        offsets = [s["offset"] for s in r["spans"]]
        assert offsets == sorted(offsets) and len(set(offsets)) == len(offsets)
        for s in r["spans"]:
            if s["kind"] == "text":
                assert s["text"] is not None and s["media_ref"] is None
            else:
                assert s["text"] is None and s["media_ref"] is not None
    # round-trip through explode/rebuild preserves the exact sequence
    rebuilt = (
        docs.select("doc_id", F.posexplode("spans").alias("i", "span"))
        .groupBy("doc_id")
        .agg(F.array_sort(
            F.collect_list(F.struct("i", "span"))
        ).alias("seq"))
        .select("doc_id", F.transform("seq", lambda x: x["span"]).alias("spans"))
    )
    orig = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in rows}
    back = {r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in rebuilt.collect()}
    assert orig == back


def test_native_and_pandas_extractors_agree(spark):
    docs = generate_documents(spark, N_DOCS)
    a = {tuple(r) for r in mentions_native(docs).collect()}
    b = {tuple(r) for r in mentions_pandas(docs).collect()}
    assert a == b
    assert len(a) > 0


def test_connected_components_chains(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("x", "x")],
        ["src", "dst"],
    )
    cc = {r["node"]: r["component"]
          for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["d"] == cc["e"] == "d"
    assert cc["x"] == "x"


def test_cc_pointer_doubling_long_chain(spark):
    """A 500-node alias chain must converge in O(log n) rounds, not 500.

    Plain min-label propagation moves the root label one hop per round
    (O(diameter)); with the pointer-doubling step the distance to the root
    halves each round, so 500 hops needs ~log2(500) ≈ 9 rounds. Guard with
    a generous bound well below the chain length."""
    n = 500
    ids = [f"n{i:04d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i + 1], ids[i]) for i in range(n - 1)], ["src", "dst"]
    ).coalesce(4)
    iters = []
    cc = {r["node"]: r["component"]
          for r in connected_components(
              edges, max_iter=14,
              on_iteration=lambda it, ch: iters.append((it, ch))).collect()}
    assert len(cc) == n
    assert set(cc.values()) == {ids[0]}
    assert len(iters) <= 14, f"took {len(iters)} rounds for a {n}-chain"


def test_cc_max_iter_bound_is_loud(spark):
    """A loop still changing at ``max_iter`` raises instead of returning a
    half-propagated labelling: the 500-node chain needs ~10 rounds, so a
    bound of 3 must fail after exactly 3 reported rounds."""
    from pyrml_spark.kg.fixpoint import ConvergenceError

    n = 500
    ids = [f"n{i:04d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i + 1], ids[i]) for i in range(n - 1)], ["src", "dst"]
    ).coalesce(4)
    iters = []
    with pytest.raises(ConvergenceError):
        connected_components(
            edges, max_iter=3,
            on_iteration=lambda it, ch: iters.append((it, ch)))
    assert [it for it, _ in iters] == [0, 1, 2]
    assert all(ch > 0 for _, ch in iters)


def test_canonicalization_merges_aliases(spark):
    docs = generate_documents(spark, 500)
    mentions = mentions_native(docs)
    mapping = canonical_mapping(sameas_candidates(mentions))
    rows = mapping.collect()
    assert rows, "expected alias links in the corpus"
    for r in rows:
        # canonical is always the base surface (lexicographic min of chain)
        assert not r["canonical"].endswith(("_aka", "_aka2")), r
    m = {r["entity"]: r["canonical"] for r in rows}
    # multi-hop: X_aka2 → X_aka → X must land on X
    aka2 = [e for e in m if e.endswith("_aka2")]
    assert aka2, "corpus should contain _aka2 aliases"
    for e in aka2:
        assert m[e] == e[: -len("_aka2")]


def test_pipeline_end_to_end_and_resume(spark):
    with tempfile.TemporaryDirectory() as d:
        cfg = KGPipelineConfig(n_docs=N_DOCS, use_pandas_extractor=False,
                               n_subject_buckets=8)
        out1 = run_pipeline(spark, d, cfg)
        n1 = out1.count()
        assert n1 > 0
        assert set(out1.columns) >= {"s", "p", "o", "g", "subject_bucket"}
        # partitioned layout on disk
        stage_dir = os.path.join(d, "stages", "triples")
        assert any(p.startswith("subject_bucket=")
                   for p in os.listdir(stage_dir))
        # manifest has lineage records
        with open(os.path.join(d, "manifest.jsonl")) as f:
            recs = [json.loads(line) for line in f]
        stages = {r.get("stage") for r in recs}
        assert {"mentions", "canonical_mapping", "triples"} <= stages
        full = [r for r in recs if "rows" in r]
        assert all(r["rows"] >= 0 and "per_partition" in r for r in full)
        # resume: second run must reuse checkpoints (no recompute) and match
        out2 = run_pipeline(spark, d, cfg)
        assert out2.count() == n1
        with open(os.path.join(d, "manifest.jsonl")) as f:
            recs2 = [json.loads(line) for line in f]
        assert len([r for r in recs2 if "rows" in r]) == len(full)  # no new stage runs


def test_pipeline_no_orphan_aliases(spark):
    """After canonicalization no alias entity IRIs remain as subjects of
    rdf:type triples (all rewritten to the canonical)."""
    with tempfile.TemporaryDirectory() as d:
        out = run_pipeline(
            spark, d,
            KGPipelineConfig(n_docs=500, use_pandas_extractor=False),
        )
        leftovers = out.filter(
            F.col("g").contains("mentions")
            & (F.col("s").endswith("_aka>") | F.col("s").endswith("_aka2>"))
        ).count()
        assert leftovers == 0


def test_fused_pipeline_matches_checkpointed(spark):
    from pyrml_spark.kg.pipeline import run_pipeline_fused

    cfg = KGPipelineConfig(n_docs=N_DOCS, use_pandas_extractor=False)
    with tempfile.TemporaryDirectory() as d1, \
            tempfile.TemporaryDirectory() as d2:
        a = {tuple(r) for r in run_pipeline(spark, d1, cfg)
             .select("s", "p", "o", "g").collect()}
        b = {tuple(r) for r in run_pipeline_fused(spark, d2 + "/out", cfg)
             .select("s", "p", "o", "g").collect()}
    assert a == b and len(a) > 0


def test_fused_pipeline_external_documents(spark, tmp_path):
    """VERDICT r3 #3: the max-throughput fused path must accept an external
    documents table and produce the same triples as the checkpointed path
    over that exact corpus."""
    from pyrml_spark.kg.pipeline import run_pipeline_fused

    corpus_path = str(tmp_path / "corpus")
    generate_documents(spark, 150).write.parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    cfg = KGPipelineConfig(n_docs=999_999, use_pandas_extractor=False)
    a = {tuple(r)
         for r in run_pipeline(spark, str(tmp_path / "w"), cfg,
                               documents=docs, input_tag="ext1")
         .select("s", "p", "o", "g").collect()}
    b = {tuple(r)
         for r in run_pipeline_fused(spark, str(tmp_path / "out"), cfg,
                                     documents=docs)
         .select("s", "p", "o", "g").collect()}
    assert a == b and len(a) > 0


def test_public_input_tag_sees_whole_dataset(spark):
    """ADVICE r3: an appended input whose first rows are identical must get
    a DIFFERENT derived tag (no stale-checkpoint resume on grown data)."""
    from pyrml_spark.kg.pipeline import _public_input_tag

    base = generate_documents(spark, 200)
    grown = generate_documents(spark, 260)  # superset: same first rows
    assert _public_input_tag(base) != _public_input_tag(grown)
    assert _public_input_tag(base) == _public_input_tag(
        generate_documents(spark, 200))  # still deterministic


@pytest.mark.parametrize("mode", ["checkpointed", "fused"])
def test_pipeline_never_collects_over_threshold(spark, tmp_path, monkeypatch,
                                                mode):
    """Scale guard (round-1 ADVICE): when the edge count exceeds
    DRIVER_UNION_FIND_MAX_EDGES both modes must go straight to the
    distributed canonical mapping WITHOUT collecting edges to the driver.
    Patched where the gate reads them (kg.canonicalize), so the guard holds
    for every caller of connected_components_auto."""
    from pyrml_spark.kg import canonicalize as C
    from pyrml_spark.kg import pipeline as P

    monkeypatch.setattr(C, "DRIVER_UNION_FIND_MAX_EDGES", 1)

    def boom(_rows):
        raise AssertionError("driver union-find must not run over threshold")

    monkeypatch.setattr(C, "_driver_union_find", boom)
    cfg = P.KGPipelineConfig(n_docs=150, use_pandas_extractor=False)
    if mode == "fused":
        out = P.run_pipeline_fused(spark, str(tmp_path / "out"), cfg)
    else:
        work = str(tmp_path / "work")
        out = P.run_pipeline(spark, work, cfg)
        with open(os.path.join(work, "manifest.jsonl")) as f:
            recs = [json.loads(line) for line in f]
        events = [r["stage"] for r in recs if "event" in r]
        assert "cc_iteration" in events
        assert "cc_driver_union_find" not in events
    assert out.count() > 0  # distributed path produced the table


def _frozen_config_calls():
    """Every ``KGPipelineConfig(...)`` call in the frozen bench harness
    (``bench.py``, ``BENCH/*.py``) as (file, keyword names). Worker scripts
    embedded as format-string templates are parsed too; ``**name`` resolves
    through a ``name = dict(...)`` assignment in the same source."""
    import ast
    import glob
    import string

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(root, "bench.py")] + sorted(
        glob.glob(os.path.join(root, "BENCH", "*.py")))

    def calls(src, where):
        tree = ast.parse(src)
        dicts = {t.id: node.value for node in ast.walk(tree)
                 if isinstance(node, ast.Assign)
                 and isinstance(node.value, ast.Call)
                 and getattr(node.value.func, "id", None) == "dict"
                 for t in node.targets if isinstance(t, ast.Name)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and "KGPipelineConfig(" in node.value):
                fields = {f for _, f, _, _ in
                          string.Formatter().parse(node.value) if f}
                yield from calls(node.value.format(
                    **{f: "x" for f in fields}), where + " (template)")
            if (isinstance(node, ast.Call) and "KGPipelineConfig" in (
                    getattr(node.func, "id", None),
                    getattr(node.func, "attr", None))):
                names = []
                for kw in node.keywords:
                    if kw.arg is not None:
                        names.append(kw.arg)
                    else:  # **name
                        names += [k.arg for k in dicts[kw.value.id].keywords]
                yield where, names

    for path in paths:
        with open(path) as f:
            yield from calls(f.read(), os.path.relpath(path, root))


def test_frozen_harness_config_fields_exist():
    """A KGPipelineConfig field the frozen harness passes must not be
    removed: constructing each call's keyword set fails here, in tier-1,
    instead of in the bench run."""
    found = list(_frozen_config_calls())
    assert any(w == "bench.py" for w, _ in found)
    assert any(w.endswith("(template)") for w, _ in found)
    for where, names in found:
        try:
            KGPipelineConfig(**dict.fromkeys(names))
        except TypeError as e:
            pytest.fail(f"{where}: {e}")


def test_external_documents_get_distinct_fingerprints(spark, tmp_path):
    """ADVICE round 1: two different external inputs must not share stage
    fingerprints (stale-checkpoint resume)."""
    from pyrml_spark.kg.datagen import generate_documents
    from pyrml_spark.kg.pipeline import KGPipelineConfig, run_pipeline

    cfg = KGPipelineConfig(n_docs=60, use_pandas_extractor=False)
    d1 = generate_documents(spark, 60)
    d2 = generate_documents(spark, 40)  # different input, same config
    out1 = run_pipeline(spark, str(tmp_path / "w"), cfg, documents=d1,
                        input_tag="t1")
    n1 = out1.count()
    out2 = run_pipeline(spark, str(tmp_path / "w"), cfg, documents=d2,
                        input_tag="t2")
    n2 = out2.count()
    assert n1 != n2  # t2 did NOT resume from t1's checkpoints


def test_connected_components_auto_matches_distributed(spark):
    """The driver union-find crossover must produce the identical
    (node, component) table as the distributed min-label loop — on a
    chain (worst-case diameter), a star, and singleton self-loops."""
    from pyrml_spark.kg.canonicalize import connected_components_auto

    rows = ([(f"n{i+1:03d}", f"n{i:03d}") for i in range(40)]
            + [("hub", f"s{i}") for i in range(10)]
            + [("z", "z")])
    edges = spark.createDataFrame(rows, ["src", "dst"])
    cc_driver, rows_driver = connected_components_auto(edges)
    cc_dist, rows_dist = connected_components_auto(edges, max_driver_edges=0)
    via_driver = {tuple(r) for r in cc_driver.collect()}
    via_dist = {tuple(r) for r in cc_dist.collect()}
    assert via_driver == via_dist
    assert len(via_driver) == 53  # 41 chain + 11 star + 1 singleton
    # the returned row count is exact on both sides of the gate
    assert rows_driver == rows_dist == 53

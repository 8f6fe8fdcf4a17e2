"""Plan-quality assertions — the 100 TB concerns, checked on .explain output:
column pruning reaches the parquet scan, small parents broadcast, no
row-at-a-time Python UDFs in RML plans, whole-stage codegen present."""

import os
import re

import pytest

from pyrml_spark.testdata_rml import (
    q_customer_terms,
    q_orders_customer_join,
    q_condition_filter,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def key_exchanges(plan: str) -> int:
    """Exchanges that move rows BY KEY (hash/range) — the scale-relevant
    count. The round-robin scan rebalance from scan.read_parquet_parallel
    is excluded: it only exists when a benchmark-sized input yields fewer
    splits than cores (at corpus scale the gate `partitions <
    defaultParallelism` is never true, so it is absent from the plan) and
    it carries the scan's own bytes exactly once, before any operator."""
    return len(re.findall(r"\bExchange\b", plan)) \
        - len(re.findall(r"Exchange RoundRobinPartitioning", plan))


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_customer_scan_is_column_pruned(spark):
    df = q_customer_terms(spark, SF_DIR)
    plan = formatted(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # only the referenced columns, not the whole customer schema
    assert cols == {"c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal"}, cols


def test_condition_filter_pushed_down(spark):
    df = q_condition_filter(spark, SF_DIR)
    plan = formatted(df)
    assert "PushedFilters:" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(event_type,error\)", plan), plan


def test_refobj_join_is_broadcast(spark):
    df = q_orders_customer_join(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


_ROOTS_MAP = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://ex.com/> .

<#Child> rml:logicalSource [ rml:source "child.csv" ;
    rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://ex.com/c/{id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:parent ;
    rr:objectMap [ rr:parentTriplesMap <#Parent> ;
      rr:joinCondition [ rr:child "pid" ; rr:parent "id" ] ] ] .
<#Parent> rml:logicalSource [ rml:source "parent.csv" ;
    rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://ex.com/p/{id}" ] .
"""


def test_rom_join_strategy_follows_session_conf(spark, tmp_path):
    """The engine adds no join hint of its own: the ROM join broadcasts
    under the default ``spark.sql.autoBroadcastJoinThreshold`` and
    shuffles at ``-1``. Either way the parent, resolvable only through
    ``search_roots``, joins to the same rows."""
    from pyrml_spark import convert

    maps, data = tmp_path / "maps", tmp_path / "data"
    maps.mkdir()
    data.mkdir()
    (maps / "m.ttl").write_text(_ROOTS_MAP, encoding="utf-8")
    (data / "child.csv").write_text("id,pid\n1,10\n2,20\n", encoding="utf-8")
    (data / "parent.csv").write_text("id\n10\n20\n", encoding="utf-8")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    rows = {}
    try:
        for conf, broadcast in ((prev, True), ("-1", False)):
            spark.conf.set(key, conf)
            df = convert(spark, str(maps / "m.ttl"), search_roots=[str(data)])
            plan = formatted(df)
            assert ("BroadcastHashJoin" in plan) == broadcast, plan
            rows[conf] = {tuple(r) for r in df.collect()}
            assert len(rows[conf]) == 2
    finally:
        spark.conf.set(key, prev)
    assert rows[prev] == rows["-1"]


def test_scan_floor_reads_split_size_from_session(spark, tmp_path):
    """A 3 MB parquet file is 3 splits at maxPartitionBytes=1MB — enough
    for 3 shuffle partitions, so no rebalance — and one split at the
    128MB default, so the floor repartitions it."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyrml_spark.scan import read_parquet_parallel

    path = str(tmp_path / "wide.parquet")
    rng = np.random.default_rng(0)
    pq.write_table(pa.table({"v": pa.array(
        [rng.bytes(1024) for _ in range(3 * 1024)], pa.binary())}),
        path, compression="none", row_group_size=512)
    assert 3 << 20 <= os.path.getsize(path) < 4 << 20
    prev = {k: spark.conf.get(k) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        default = formatted(read_parquet_parallel(spark, path))
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1MB")
        small = formatted(read_parquet_parallel(spark, path))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "RoundRobinPartitioning" in default, default
    assert "RoundRobinPartitioning" not in small, small


def test_parse_spark_byte_strings():
    from pyrml_spark.scan import _parse_bytes

    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("64m") == 64 << 20
    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("1.5g") is None
    assert _parse_bytes("lots") is None


def test_no_python_udf_in_rml_core_plans(spark):
    for q in (q_customer_terms, q_orders_customer_join, q_condition_filter):
        plan = plan_of(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan  # row-at-a-time Python
        assert "ArrowEvalPython" not in plan  # no UDF at all in core term maps


def test_whole_stage_codegen_present(spark):
    df = q_customer_terms(spark, SF_DIR)
    df.collect()  # AQE finalizes the physical plan on execution
    plan = plan_of(df)
    assert "WholeStageCodegen" in plan or "isFinalPlan=true" in plan, plan


def test_neardup_plans_have_no_cartesian_or_bnlj(spark):
    """Round-1 scale-killer regression: the exact near-dup operator must be a
    block-partitioned equi-join + cogrouped pandas matmul, and the LSH path a
    banded equi-join — never a BroadcastNestedLoopJoin / CartesianProduct."""
    from pyrml_spark.ops.similarity import (ann_lsh_neardup,
                                            embedding_cosine_neardup)

    for q in (embedding_cosine_neardup, ann_lsh_neardup):
        plan = plan_of(q(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def _ancestors(plan: str, node: str) -> list:
    """Operator names on the path from the first line matching ``node`` up
    to the plan root (the tree string indents a child below its parent)."""
    lines = plan.splitlines()
    i = next(i for i, line in enumerate(lines) if re.search(node, line))

    def depth(line):
        return len(re.match(r"[\s:+\-]*", line).group(0))

    names, d = [], depth(lines[i])
    for line in reversed(lines[:i]):
        if depth(line) < d:
            d = depth(line)
            names.append(re.match(r"\w+", line[d:]).group(0))
    return names


def test_band_join_has_no_dedup_above_it(spark):
    """Each pair leaves the band join once, at its lowest shared band, so
    no aggregate or exchange re-groups the pairs above the join."""
    from pyrml_spark.ops.dedup import dedup_minhash_lsh, dedup_simhash
    from pyrml_spark.ops.similarity import ann_lsh_neardup

    for q in (dedup_minhash_lsh, dedup_simhash, ann_lsh_neardup):
        plan = plan_of(q(spark, SF_DIR))
        above = _ancestors(plan, r"Join \[band#")
        assert "AdaptiveSparkPlan" in above, (q.__name__, above)
        bad = [n for n in above if "Aggregate" in n or "Exchange" in n]
        assert not bad, (q.__name__, bad, plan)


def test_minhash_estimate_is_unrolled_in_the_join(spark):
    """Spark pushes the ``jaccard_est`` threshold into the band join's
    condition, so the estimate runs on every candidate row: it must be
    plain element comparisons there, not a higher-order function that
    falls out of the join's generated code."""
    from pyrml_spark.ops.dedup import dedup_minhash_lsh

    plan = plan_of(dedup_minhash_lsh(spark, SF_DIR))
    join = next(line for line in plan.splitlines()
                if re.search(r"Join \[band#", line))
    assert "CASE WHEN" in join, join
    assert "zip_with" not in plan and "lambda" not in plan, plan


def test_jaccard_broadcasts_hot_not_rare_side(spark):
    """The broadcast must be the small HOT-shingle set (anti-join), never the
    rare set (≈ all shingles at corpus scale)."""
    from pyrml_spark.ops.dedup import dedup_ngram_jaccard

    plan = plan_of(dedup_ngram_jaccard(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    # the anti-join against the hot set is the only LeftAnti in the plan
    assert re.search(r"LeftAnti, BuildRight", plan), plan


def test_kg_assembly_broadcasts_mapping_and_avoids_bnlj(spark):
    """The canonical-rewrite joins must be broadcast hash joins (the mapping
    is small by construction) and the assembly must stay BNLJ-free."""
    from pyrml_spark.kg.datagen import generate_documents
    from pyrml_spark.kg.extract import (assemble_canonical_triples,
                                        media_spans, mentions_native,
                                        sameas_candidates)
    from pyrml_spark.kg.canonicalize import canonical_mapping

    docs = generate_documents(spark, 200)
    mentions = mentions_native(docs)
    mapping = canonical_mapping(sameas_candidates(mentions))
    out = assemble_canonical_triples(mentions, media_spans(docs), mapping)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kg_assembly_large_mapping_does_not_broadcast(spark):
    """At 10^12-doc scale the entity→canonical mapping is billions of rows —
    the rewrite must degrade to shuffle joins, never a forced broadcast
    (VERDICT r2 weak item). Forcing the row hint above the ceiling must
    yield a plan with NO broadcast of the mapping."""
    from pyrml_spark.kg.datagen import generate_documents
    from pyrml_spark.kg.extract import (assemble_canonical_triples,
                                        media_spans, mentions_native,
                                        sameas_candidates)
    from pyrml_spark.kg.canonicalize import canonical_mapping
    from pyrml_spark.plans.tuning import BROADCAST_MAX_ROWS

    docs = generate_documents(spark, 200)
    mentions = mentions_native(docs)
    mapping = canonical_mapping(sameas_candidates(mentions))
    big_hint = BROADCAST_MAX_ROWS + 1
    out = assemble_canonical_triples(mentions, media_spans(docs), mapping,
                                     mapping_rows=big_hint)
    plan = plan_of(out)
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_topk_pre_reduces_before_global_rank(spark):
    """Two-phase top-k: a map-side partial aggregate (grouped on
    spark_partition_id) must bound what crosses the shuffle; the global
    window then ranks only the survivors — no full-corpus n_queries-task
    window stage."""
    from pyrml_spark.ops.similarity import ann_cosine_topk

    df = ann_cosine_topk(spark, SF_DIR)
    plan = plan_of(df)
    # partial aggregation present (two aggregate levels around the exchange)
    assert "partial" in plan.lower(), plan
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan, plan


def test_minhash_aggregation_is_partial(spark):
    """The 16 grouped mins must partial-aggregate map-side (two HashAggregate
    levels around the doc_id exchange) — the 100 TB shape."""
    import re as _re

    from pyrml_spark.ops.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(minhash_signatures(docs))
    # string mins plan as SortAggregate; the partial_min level before the
    # exchange is what bounds the shuffle to 16 hashes per doc per partition
    assert "partial_min" in plan, plan
    assert len(_re.findall(r"(Hash|Sort)Aggregate", plan)) >= 2, plan


def test_pii_and_sampling_are_shuffle_free_narrow_maps(spark):
    """PII scrub and stratified sampling must stream at scan speed: no
    Exchange anywhere in the plan, no Python in the row path."""
    from pyrml_spark.ops.sampling import sample_stratified
    from pyrml_spark.ops.textstats import text_pii_redact

    from pyrml_spark.ops.textstats import text_quality_classifier

    for q in (text_pii_redact, sample_stratified, text_quality_classifier):
        plan = plan_of(q(spark, SF_DIR))
        assert key_exchanges(plan) == 0, plan
        assert "EvalPython" not in plan, plan


def test_decontaminate_broadcasts_benchmark_shingles(spark):
    """The benchmark side of decontamination is small by construction — its
    shingle set must broadcast; the training side must never sort-merge."""
    from pyrml_spark.ops.dedup import text_decontaminate

    plan = plan_of(text_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mixture_resample_is_shuffle_free(spark):
    """Epoch replication is a narrow map + explode: no Exchange, no
    Python."""
    from pyrml_spark.ops.sampling import mixture_resample

    plan = plan_of(mixture_resample(spark, SF_DIR))
    assert key_exchanges(plan) == 0, plan
    assert "EvalPython" not in plan, plan


def test_seq_pack_single_shard_exchange(spark):
    """Packing shuffles exactly once — the hash exchange on `shard` that
    feeds the per-shard running-offset window — and the payload through it
    is (doc_id, shard, n_tokens), never the text column."""
    import re as _re

    from pyrml_spark.ops.packing import seq_pack

    plan = plan_of(seq_pack(spark, SF_DIR))
    exchanges = _re.findall(r"Exchange hashpartitioning\(shard", plan)
    assert len(exchanges) == 1, plan
    assert key_exchanges(plan) == 1, plan
    assert "EvalPython" not in plan, plan


def test_corpus_mixture_partial_agg_before_window(spark):
    """The mixture table aggregates map-side before its single exchange;
    the normalizing window runs over the aggregate output (#domains rows),
    so no whole-corpus single-task stage exists."""
    import re as _re

    from pyrml_spark.ops.packing import corpus_mixture

    plan = plan_of(corpus_mixture(spark, SF_DIR))
    # partial + final hash aggregate pair around the (lang, source) exchange
    assert len(_re.findall(r"HashAggregate", plan)) >= 2, plan
    assert "EvalPython" not in plan, plan


def test_ivf_assignment_is_narrow_and_join_is_broadcast(spark):
    """IVF: centroid assignment must not shuffle the corpus (the only
    exchanges belong to the bounded top-k machinery), the probe join must be
    a broadcast equi-join, and nothing falls back to BNLJ/cartesian."""
    from pyrml_spark.ops.similarity import ann_ivf_topk

    plan = plan_of(ann_ivf_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_cap_per_source_window_is_salted_two_phase(spark):
    """Per-domain cap: phase 1 must rank inside (source, sub) salt slices —
    a lone `PARTITION BY source` window would funnel a hot domain through
    one reduce task. Two Window operators, the first keyed on the salt."""
    from pyrml_spark.ops.corpus import sample_cap_per_source

    plan = plan_of(sample_cap_per_source(spark, SF_DIR))
    assert plan.count("Window") >= 2, plan
    assert "sub" in plan, plan  # salt column feeds the first window
    assert "EvalPython" not in plan, plan


def test_dedup_url_aggregation_is_partial_and_narrow(spark):
    """URL dedup: canonicalization must stay a narrow JVM map (no Python),
    and the groupBy(canonical_url) must partial-aggregate map-side so one
    slim row per URL variant crosses the single exchange."""
    import re as _re

    from pyrml_spark.ops.corpus import dedup_url

    plan = plan_of(dedup_url(spark, SF_DIR))
    assert len(_re.findall(r"HashAggregate", plan)) >= 2, plan
    assert key_exchanges(plan) == 1, plan
    assert "EvalPython" not in plan, plan


def test_ngram_counts_two_phase_topk(spark):
    """Vocabulary top-k: the bigram count must partial-aggregate before its
    exchange, and the rank must run salted-then-global (two windows) so no
    reducer ever sorts the whole vocabulary."""
    import re as _re

    from pyrml_spark.ops.corpus import corpus_ngram_counts

    plan = plan_of(corpus_ngram_counts(spark, SF_DIR))
    assert len(_re.findall(r"HashAggregate", plan)) >= 2, plan
    assert plan.count("Window") >= 2, plan
    assert "EvalPython" not in plan, plan


def test_boilerplate_hot_chunks_broadcast_anti_join(spark):
    """C4 boilerplate removal: the hot-chunk prune must be a broadcast
    left_anti hash join (the boilerplate set is small by definition) —
    never a shuffled join of the full chunk table against itself, and
    never BNLJ/cartesian."""
    from pyrml_spark.ops.corpus import text_boilerplate_chunks

    plan = plan_of(text_boilerplate_chunks(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_bgp_patterns_join_without_cartesian(spark):
    """BGP compilation: three predicate-filtered scans joined on shared
    variables must stay equi-joins (no BNLJ/cartesian) with the p-filters
    pushed into the scans."""
    from pyrml_spark.kg.analytics import kg_bgp_query

    plan = plan_of(kg_bgp_query(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_round_sum_is_partial(spark):
    """Each PageRank round's contribution sum must partial-aggregate
    map-side (two HashAggregate levels around the dst exchange) and stay
    in integer arithmetic — no Python, no floats in the rank column."""
    import re as _re

    from pyrml_spark.kg.analytics import kg_pagerank

    df = kg_pagerank(spark, SF_DIR)
    plan = plan_of(df)
    assert len(_re.findall(r"HashAggregate", plan)) >= 2, plan
    assert "EvalPython" not in plan, plan
    assert dict(df.dtypes)["pagerank_fp"] == "bigint"


def test_bgp_from_sink_scans_parquet_not_pipeline(spark):
    """The construct-once/query-many BGP variant must read the
    materialized bucketed sink: plan shows parquet FileScans with the
    predicate filters pushed, and NONE of the pipeline's datagen (Range)
    or extraction stages; joins stay equi-joins."""
    from pyrml_spark.kg.analytics import kg_bgp_from_sink

    plan = plan_of(kg_bgp_from_sink(spark, SF_DIR))
    assert "Scan parquet" in plan, plan
    assert "Range" not in plan, plan          # no datagen in the query DAG
    assert "PushedFilters" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name", ["kg_pipeline_fused_triples", "kg_bgp_query", "kg_pagerank"])
def test_kg_rows_read_the_written_graph(spark, monkeypatch, name):
    """The fused row, the recompute-mode BGP and PageRank build the graph
    through the fused pipeline and query its Parquet read-back: a parquet
    FileScan and none of the datagen (Range) below it. PageRank's rounds
    read a localCheckpoint of its edge list (a ``Scan ExistingRDD``), so
    its plan to check is that of the edges it cuts."""
    from pyrml_spark.kg import analytics
    from pyrml_spark.kg.entry import KG_QUERIES

    cut = []
    edges = analytics._co_mention_edges

    def recording(*args):
        cut.append(edges(*args))
        return cut[-1]

    monkeypatch.setattr(analytics, "_co_mention_edges", recording)
    df = KG_QUERIES[name](spark, SF_DIR)
    plan = plan_of(cut[-1] if cut else df)
    assert "FileScan parquet" in plan, plan
    assert "Range" not in plan, plan


def test_sparql_query_plan_is_pruned_sink_scan(spark):
    """The SPARQL front-end row compiles to the same plan family as the
    hand-built BGP: parquet scans of the materialized sink with the
    predicate equality pushed, equi-joins only; the VALUES/NOT EXISTS
    row additionally shows the anti join and no cartesian."""
    from pyrml_spark.kg.analytics import (kg_sparql_notexists,
                                          kg_sparql_query)

    plan = plan_of(kg_sparql_query(spark, SF_DIR))
    assert "Scan parquet" in plan, plan
    assert "Range" not in plan, plan
    assert "PushedFilters" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    plan = plan_of(kg_sparql_notexists(spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


PYTHON_EVAL_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                     "FlatMapGroupsInPandas", "PythonMapInArrow")


def test_default_kg_pipeline_has_no_python_eval(spark, tmp_path, monkeypatch):
    """The default KG build, checkpointed and fused, starts no Python
    workers: no stage DataFrame plans a Python-eval operator. The config is
    the one the frozen bench harness passes (use_pandas_extractor=True)."""
    from pyrml_spark.kg import pipeline as P
    from pyrml_spark.kg.lineage import StageRunner

    plans = {}

    def capturing(run):
        def wrapped(self, name, input_fp, build, *args, **kwargs):
            def build_and_capture():
                df = build()
                plans[(mode, name)] = formatted(df)
                return df
            return run(self, name, input_fp, build_and_capture,
                       *args, **kwargs)
        return wrapped

    monkeypatch.setattr(StageRunner, "run", capturing(StageRunner.run))
    monkeypatch.setattr(P._InMemory, "run", capturing(P._InMemory.run))
    cfg = P.KGPipelineConfig(n_docs=150, use_pandas_extractor=True)
    for mode, run in (("checkpointed", P.run_pipeline),
                      ("fused", P.run_pipeline_fused)):
        run(spark, str(tmp_path / mode), cfg)

    stages = {"documents", "mentions", "media_spans", "sameas_edges",
              "canonical_mapping", "triples"}
    assert set(plans) == {(m, s) for m in ("checkpointed", "fused")
                          for s in stages}
    for key, plan in plans.items():
        found = [n for n in PYTHON_EVAL_NODES if n in plan]
        assert not found, (key, found, plan)

"""End-to-end KG construction pipeline (the north rule), defined once:

    interleaved documents (doc_id, spans[])
      → mention detection (native Column expressions, no Python workers)
      → triple expansion (deterministic IRI templates)
      → candidate sameAs links → connected-components canonicalization
      → subject/object rewrite through the canonical mapping
      → dedup → partitioned (s,p,o,g) table + N-Quads-ready strings

One DAG of DataFrame transforms (:func:`_build`) serves both entry points.
They differ only in the materialization policy that decides how each stage
is kept:

* :func:`run_pipeline` — checkpoint policy: every stage is written to
  Parquet under ``work_dir`` and recorded in the lineage manifest
  (:class:`~.lineage.StageRunner`), so a re-run resumes mid-DAG. Row counts
  come from the manifest; planning decisions are written to it as events.
* :func:`run_pipeline_fused` — memory policy (:class:`_InMemory`, same
  interface as the runner): stages read more than once are persisted, a
  count runs only where the union-find gate needs one, and everything is
  unpersisted after the one final write.

The canonical mapping goes through the single union-find gate,
:func:`~.canonicalize.connected_components_auto`: driver union-find below
``DRIVER_UNION_FIND_MAX_EDGES`` edges, the distributed min-label loop above.
The output table is partitioned by a subject hash bucket
(``pmod(xxhash64(s), N)``) so downstream point lookups and joins prune
partitions. Rows reach the write through the same bucket exchange as the RML
sink (:func:`~.table.bucket_clustered`): one file per bucket, and the write
tasks share the buckets evenly.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import connected_components_auto
from .datagen import generate_documents
from .extract import (
    assemble_canonical_triples,
    media_spans,
    mentions_native,
    sameas_candidates,
)
from .lineage import StageRunner, fingerprint, written_schema
from .table import bucket_clustered, subject_bucket


@dataclass
class KGPipelineConfig:
    n_docs: int = 10_000
    # No-op: mentions_native is the only extractor. Kept because the frozen
    # bench harness passes it and because its value (default True) is part
    # of the stage fingerprints, so existing work dirs keep resuming.
    use_pandas_extractor: bool = True
    n_subject_buckets: int = 32
    cc_max_iter: int = 25
    gen_partitions: int = 0                 # fixed datagen partitioning (benches)
    final_repartition: bool = True          # False: skip the bucket exchange
                                            # (each write task then writes
                                            # into every bucket it holds)


def _public_input_tag(documents: DataFrame) -> str:
    """Resume identity for a caller-supplied input, from public surface only:
    schema JSON + a WHOLE-dataset order-independent signal (row count + sum
    of per-row xxhash64 — one aggregate job) + a bounded row sample hash.
    The whole-dataset aggregate means an appended/edited input changes the
    tag even when its first rows are identical, so resume can never silently
    serve stale stage checkpoints for a grown dataset. The aggregate is one
    full scan — callers with a real dataset identity (name + version) should
    pass ``input_tag`` and skip it."""
    import hashlib
    import logging

    logging.getLogger(__name__).warning(
        "no input_tag supplied for external documents: deriving one from a "
        "full-scan content hash (count + xxhash64 sum). Pass input_tag="
        "'<dataset>@<version>' to make resume identity explicit and skip "
        "this scan."
    )
    h = hashlib.sha256(documents.schema.json().encode())
    agg = documents.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: a long sum of xxhash64 values overflows
        # under ANSI mode on even small inputs
        F.sum(F.xxhash64(F.struct(*documents.columns))
              .cast("decimal(38,0)")).alias("xh"),
    ).collect()[0]
    h.update(f"n={agg['n']};xh={agg['xh']}".encode())
    sample = documents.limit(64).collect()
    for row_repr in sorted(repr(r) for r in sample):
        h.update(row_repr.encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    work_dir: str,
    config: KGPipelineConfig = KGPipelineConfig(),
    documents: Optional[DataFrame] = None,
    input_tag: Optional[str] = None,
) -> DataFrame:
    """Returns the final (s,p,o,g,subject_bucket) DataFrame; all stages
    checkpointed under ``work_dir`` with manifest lineage.

    External ``documents`` need a resume identity mixed into the stage
    fingerprints, else fingerprints collide across different caller-supplied
    inputs and resume would reuse stale checkpoints. ``input_tag`` names it
    (dataset name + version); omitted, :func:`_public_input_tag` derives one
    from public surface only (the analyzed-plan string is a private JVM API
    that breaks under Spark Connect and embeds session-specific expression
    ids, so the same input would never resume across sessions)."""
    if documents is not None:
        input_tag = input_tag or _public_input_tag(documents)
    return _build(spark, config, documents, input_tag,
                  StageRunner(spark, work_dir))


def run_pipeline_fused(
    spark: SparkSession,
    out_dir: str,
    config: KGPipelineConfig = KGPipelineConfig(),
    documents: Optional[DataFrame] = None,
) -> DataFrame:
    """Same DAG as :func:`run_pipeline` kept in memory instead of in
    checkpoints: stages are persisted (mentions feed both the edge
    derivation and the triple build), the edge count feeds the union-find
    gate, and the one partitioned write goes to ``out_dir``.

    ``documents`` supplies an external corpus (same shape as
    :func:`~pyrml_spark.kg.datagen.generate_documents`: BASELINE.json's
    input_hint) — omitted, the synthetic corpus is generated. No
    ``input_tag`` parameter: fused mode keeps no checkpoints, so there is
    no resume identity to name.

    Use for throughput benching / one-shot runs; use :func:`run_pipeline`
    when stage-level resumability and lineage are required. Results are
    identical (tests assert it)."""
    keep = _InMemory(spark, out_dir)
    try:
        if documents is not None:
            documents = keep.persist("documents", documents)
        return _build(spark, config, documents, None, keep)
    finally:
        keep.unpersist()


class _InMemory:
    """The memory policy behind :class:`~.lineage.StageRunner`'s interface,
    with no checkpoints and no manifest. A stage read more than once is
    persisted until :meth:`unpersist`, a row count is a count job, and the
    partitioned stage is the one write (to ``out_dir``), read back with the
    schema of the frame it wrote (no footer job, and an empty output reads
    as an empty table instead of failing schema inference). Single-use stages
    stay lazy: under AQE a persisted stage pays its own cache-materialization
    jobs (measured on local[4], 2 000 docs: persisting media_spans added 2
    jobs, canonical_mapping 6), and both are cheap to re-read — media_spans
    derives from the persisted documents, and the mapping is a local
    relation or the CC loop's checkpoint."""

    REUSED = frozenset({"documents", "mentions", "sameas_edges"})

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        self.persisted: Dict[str, DataFrame] = {}

    def persist(self, name: str, df: DataFrame) -> DataFrame:
        self.persisted[name] = df = df.persist()
        return df

    def run(self, name, input_fp, build, partition_by=None,
            extra_metrics=None) -> DataFrame:
        df = build()
        if not partition_by:
            return self.persist(name, df) if name in self.REUSED else df
        df.write.mode("overwrite").partitionBy(*partition_by) \
            .parquet(self.out_dir)
        return self.spark.read.schema(written_schema(df, partition_by)) \
            .parquet(self.out_dir)

    def stage_rows(self, name: str, input_fp: str) -> int:
        # a plain count, not limit(N+1).count(): CollectLimit's incremental
        # partition scans bypass and partially populate the persist cache
        return self.persisted[name].count()

    def record_event(self, stage: str, payload: dict) -> None:
        pass

    def unpersist(self) -> None:
        for df in self.persisted.values():
            df.unpersist()


def _table_metrics(df: DataFrame) -> dict:
    """Manifest extras for the final table: ONE multi-aggregate job, not
    one full-table job per metric."""
    row = df.agg(
        F.countDistinct("s").alias("distinct_subjects"),
        F.countDistinct("g").alias("graphs"),
    ).collect()[0]
    return {"distinct_subjects": row["distinct_subjects"],
            "graphs": row["graphs"]}


def _build(spark: SparkSession, config: KGPipelineConfig,
           documents: Optional[DataFrame], input_tag: Optional[str],
           keep) -> DataFrame:
    """The pipeline DAG; ``keep`` is the materialization policy (a
    :class:`StageRunner` or an :class:`_InMemory`). Stage names and
    fingerprints are the resume identity of existing work dirs — keep them
    stable."""
    cfg_fp = fingerprint(
        config.n_docs, config.use_pandas_extractor, config.n_subject_buckets,
        "v1",
    )
    if documents is None:
        docs_fp = fingerprint("docs", cfg_fp)
        docs = keep.run(
            "documents", docs_fp,
            lambda: generate_documents(spark, config.n_docs,
                                       partitions=config.gen_partitions),
        )
    else:
        docs_fp = fingerprint("docs-ext", cfg_fp, input_tag)
        docs = documents

    mentions_fp = fingerprint("mentions", docs_fp, config.use_pandas_extractor)
    mentions = keep.run("mentions", mentions_fp, lambda: mentions_native(docs))

    media_fp = fingerprint("media", docs_fp)
    media = keep.run("media_spans", media_fp, lambda: media_spans(docs))

    edges_fp = fingerprint("edges", mentions_fp)
    edges = keep.run("sameas_edges", edges_fp,
                     lambda: sameas_candidates(mentions))

    mapping_fp = fingerprint("mapping", edges_fp, config.cc_max_iter)
    label_rows = []

    def build_mapping() -> DataFrame:
        edge_rows = keep.stage_rows("sameas_edges", edges_fp)
        iterations = []

        def on_iteration(it: int, changed: int) -> None:
            iterations.append(it)
            keep.record_event("cc_iteration",
                              {"iteration": it, "labels_changed": changed})

        cc, rows = connected_components_auto(
            edges, edge_rows=edge_rows, max_iter=config.cc_max_iter,
            on_iteration=on_iteration)
        if not iterations:  # no distributed round ran: solved on the driver
            keep.record_event("cc_driver_union_find",
                              {"edges": int(edge_rows), "labels": rows})
        label_rows.append(rows)
        return cc.select(F.col("node").alias("entity"),
                         F.col("component").alias("canonical"))

    mapping = keep.run("canonical_mapping", mapping_fp, build_mapping)
    # the mapping's row count drives the conditional broadcast: the gate
    # returned it, or (resumed) the manifest holds it — no probe job
    mapping_rows = (label_rows[0] if label_rows
                    else keep.stage_rows("canonical_mapping", mapping_fp))

    triples_fp = fingerprint("triples", mentions_fp, media_fp, mapping_fp)

    def build_triples() -> DataFrame:
        # category-wise assembly: rewrite-then-dedup per disjoint predicate
        # group — equals the old global dropDuplicates with ~4-8× fewer
        # shuffled bytes (see assemble_canonical_triples)
        canon = assemble_canonical_triples(mentions, media, mapping,
                                           mapping_rows=mapping_rows)
        if not config.final_repartition:
            return canon.withColumn(
                "subject_bucket", subject_bucket(config.n_subject_buckets))
        return bucket_clustered(canon, config.n_subject_buckets)

    return keep.run("triples", triples_fp, build_triples,
                    partition_by=["subject_bucket"],
                    extra_metrics=_table_metrics)

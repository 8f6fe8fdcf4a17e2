"""Streaming RML conversion: run a compiled mapping continuously over a
file-arrival stream.

The reference engine is batch-only (it materializes an rdflib graph per
``convert()`` call, pyrml_mapper.py:100-140); re-running it on a growing
directory re-parses everything. Spark-first, the same compiled plan runs
incrementally: every term map is a native Column expression and every POM
fan-out is an ``explode``, so the batch plan IS a valid streaming plan —
only the scan and the final set-dedup need streaming-aware forms:

* **Scan**: the designated logical source becomes ``spark.readStream`` over
  its directory (CSV/CSVW/JSON file sources; schema fixed by a one-time
  static probe read, since streaming reads cannot infer schemas). New files
  dropped into the directory surface as new triples, incrementally.
* **Joins**: referencing-object-map parents load STATIC through the normal
  loader — Spark supports stream-static inner equi-joins natively, and a
  dimension-sized parent broadcasts exactly as in batch. Stream-STREAM
  joins (parent reads the streaming source too) are rejected loudly: RML
  join semantics are set-based over complete sources, which a watermarked
  stream-stream join cannot honor without silently dropping late pairs.
* **Dedup (D8 set semantics)**: ``dropDuplicates`` is unbounded state on a
  stream; instead an ingest timestamp + ``withWatermark`` +
  ``dropDuplicatesWithinWatermark`` dedups within the watermark horizon
  with state evicted as the watermark advances — the same bounded-state
  pattern as ``kg_stream.py``. Cross-horizon duplicates (the same triple
  re-arriving hours later) are the sink's concern (e.g. MERGE into the
  triples table); this is documented, not hidden.
* **Static TriplesMaps**: a mapping whose other TriplesMaps do not read the
  streaming source would need a batch∪stream union Spark cannot express.
  Default is a loud error; ``on_static="exclude"`` drops those branches
  with a warning (run them once through batch ``convert()`` instead).

At 100 TB this is the incremental-ingest path: the batch backfill runs
once via ``convert()``, then this stream keeps the graph current with
per-microbatch work proportional to arriving data, not corpus size.
"""

from __future__ import annotations

import os
import warnings
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compiler import OUTPUT_SCHEMA, CompileError, RMLCompiler
from ..model import LogicalSource, MappingPlan
from ..sources import (
    SourceError,
    SourceLoader,
    apply_json_iterator,
    reader_options,
)


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Readability probe for the dedup gate, correct for any
    Spark-reachable URI (s3a://, hdfs://, file:/...): accessing
    ``.schema`` forces the DataSource to resolve the path through the
    Hadoop FileSystem, raising AnalysisException (PATH_NOT_FOUND /
    UNABLE_TO_INFER_SCHEMA) when there is no readable table there.
    ``os.path.exists`` is local-disk-only — always False for object-store
    targets, which would silently degrade exact_dedup to blind appends.
    DataFrame-pure, so it works identically under Spark Connect (no py4j
    FileSystem handle, which the Connect guard bans). An existing-but-
    empty directory reads as absent, which is exactly right for the gate:
    nothing to dedup against."""
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(path).schema
        return True
    except AnalysisException as e:
        # Only the definitive absent-table shapes mean False. Anything
        # else (auth failure, throttling, corrupt footer) must NOT
        # silently disable exact_dedup — re-raise so the batch fails
        # loudly instead of blind-appending duplicates.
        getter = getattr(e, "getCondition", None) or \
            getattr(e, "getErrorClass", None)
        cond = (getter() if getter else None) or ""
        if cond.startswith("PATH_NOT_FOUND") or \
                "Path does not exist" in str(e):
            return False
        if cond.startswith("UNABLE_TO_INFER_SCHEMA"):
            # fires BOTH for an empty/metadata-only directory (table truly
            # absent — dedup base is simply not there yet) and for a
            # directory holding unreadable data files (a failed earlier
            # batch's partial write with no valid footer). Distinguish via
            # a binaryFile listing — DataFrame-pure, Connect-safe, and
            # Spark's file index already skips _SUCCESS/.hidden files — so
            # any surviving row is a visible data file parquet could not
            # read: re-raise rather than blind-append duplicates (ADVICE
            # r6).
            n_files = (spark.read.format("binaryFile")
                       .option("recursiveFileLookup", "true").load(path)
                       .select("path").limit(1).count())
            if n_files == 0:
                return False
            raise
        raise


class StreamSourceLoader(SourceLoader):
    """SourceLoader that serves ONE designated logical source as a
    Structured-Streaming DataFrame and everything else statically."""

    def __init__(self, spark: SparkSession, stream_source: str,
                 search_roots: Optional[List[str]] = None,
                 max_files_per_trigger: int = 16):
        super().__init__(spark, search_roots=search_roots)
        self.stream_source = stream_source
        self.max_files_per_trigger = max_files_per_trigger

    def is_stream(self, ls: LogicalSource) -> bool:
        return ls.source == self.stream_source

    def _load(self, ls: LogicalSource) -> DataFrame:
        if not self.is_stream(ls):
            return super()._load(ls)
        if ls.kind in ("csv", "csvw", "json"):
            fmt = "json" if ls.kind == "json" else "csv"
            path, options = self.path(ls), reader_options(ls)
            # streaming reads need a fixed schema: probe it with one static
            # read (same options), then stream with it
            probe = self.spark.read.format(fmt).options(**options).load(path)
            sdf = (
                self.spark.readStream.schema(probe.schema).options(**options)
                .option("maxFilesPerTrigger", self.max_files_per_trigger)
                .format(fmt).load(path)
            )
            if fmt == "json":
                return apply_json_iterator(sdf, ls.iterator)
            return sdf
        raise SourceError(
            f"streaming RML supports csv/csvw/json file sources; logical "
            f"source {ls.source!r} has kind {ls.kind!r} (xml needs a "
            "mapInPandas schema probe per file, sql/sparql are pull "
            "endpoints — poll them with batch convert() on a schedule)")


def _tm_reads(tm, stream_source: str) -> bool:
    return any(ls.source == stream_source for ls in tm.sources)


def _check_plan(plan: MappingPlan, stream_source: str,
                on_static: str) -> list:
    """Split streaming vs static TriplesMaps and reject stream-stream
    joins; returns the TriplesMaps to compile branches for. The plan
    itself stays whole — referencing-object-map parents must remain
    resolvable even when their own (static) branches are excluded."""
    by_iri = {tm.iri: tm for tm in plan.triples_maps}
    streaming = [tm for tm in plan.triples_maps
                 if _tm_reads(tm, stream_source)]
    static = [tm for tm in plan.triples_maps
              if not _tm_reads(tm, stream_source)]
    if not streaming:
        raise CompileError(
            f"no TriplesMap reads the streaming source {stream_source!r}; "
            "check rml:source spelling (exact-match against the mapping)")
    for tm in streaming:
        for pom in tm.poms:
            for rom in pom.ref_objects:
                parent = by_iri.get(rom.parent_triples_map)
                if parent is not None and _tm_reads(parent, stream_source):
                    raise CompileError(
                        f"stream-stream join: {tm.iri} joins parent "
                        f"{rom.parent_triples_map} and BOTH read the "
                        f"streaming source {stream_source!r}; RML join "
                        "semantics are set-based over complete sources — "
                        "keep the parent static or run batch convert()")
    if static:
        names = ", ".join(tm.iri for tm in static)
        if on_static == "error":
            raise CompileError(
                f"TriplesMaps not fed by the streaming source: {names}. "
                "Spark cannot union batch and streaming branches; pass "
                "on_static='exclude' to drop them here (run them once via "
                "batch convert()), or restrict the mapping")
        if on_static != "exclude":
            raise ValueError(
                f"on_static must be 'error' or 'exclude', got {on_static!r}")
        warnings.warn(
            f"streaming RML: excluding static TriplesMaps {names} — their "
            "triples are NOT produced by this stream; generate them once "
            "with batch convert()", stacklevel=3)
    return streaming


def convert_stream(
    spark: SparkSession,
    mapping: str,
    stream_source: str,
    search_roots: Optional[List[str]] = None,
    template_vars: Optional[dict] = None,
    deduplicate: bool = True,
    watermark: str = "10 minutes",
    on_static: str = "error",
    max_files_per_trigger: int = 16,
    functions=None,
) -> DataFrame:
    """Mapping document → STREAMING DataFrame[s,p,o,g] over arriving files.

    ``mapping`` is a path to a mapping file (like :func:`pyrml_spark.convert`)
    or inline mapping text; ``stream_source`` is the exact ``rml:source``
    string of the logical source to stream (its directory is watched; the
    other sources — including referencing-object-map parents — stay
    static). Start it with ``df.writeStream`` (append mode); with
    ``deduplicate`` the output carries D8 set semantics within the
    ``watermark`` horizon (bounded state), and exact batch∪stream equality
    additionally needs a sink-side MERGE for re-arrivals beyond it.
    """
    from ..parse_mapping import parse_mapping, parse_mapping_file

    roots = list(search_roots or [])
    if os.path.exists(mapping):
        plan = parse_mapping_file(mapping, template_vars=template_vars)
        roots.append(os.path.dirname(os.path.abspath(mapping)))
    else:
        plan = parse_mapping(mapping, template_vars=template_vars)
    roots.append(os.getcwd())
    streaming_tms = _check_plan(plan, stream_source, on_static)

    compiler = RMLCompiler(spark, plan, search_roots=roots,
                           functions=functions)
    compiler.loader = StreamSourceLoader(
        spark, stream_source, search_roots=roots,
        max_files_per_trigger=max_files_per_trigger)
    branches: List[DataFrame] = []
    for tm in streaming_tms:
        branches.extend(compiler.compile_triples_map(tm))
    from functools import reduce

    out = reduce(lambda a, b: a.unionByName(b), branches)
    out = out.na.drop(subset=["s", "p", "o"])  # D9
    if not out.isStreaming:
        raise CompileError(
            f"compiled plan is not streaming — source {stream_source!r} "
            "matched no scan (internal error)")
    if deduplicate:
        out = (
            out.withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", watermark)
            .dropDuplicatesWithinWatermark(list(OUTPUT_SCHEMA))
            .select(*OUTPUT_SCHEMA)
        )
    return out


def write_triples_stream(
    sdf: DataFrame,
    target: str,
    checkpoint: str,
    n_buckets: Optional[int] = None,
    fmt: Optional[str] = None,
    exact_dedup: bool = True,
):
    """Sink a streaming (s,p,o,g) DataFrame into the subject-bucketed
    triples table with EXACT cross-batch set semantics.

    ``convert_stream``'s watermarked dedup bounds state by dropping
    duplicates only within the watermark horizon; a triple re-arriving
    later would append again. This sink closes that gap per micro-batch
    (``foreachBatch``):

    * **Iceberg** target: ``MERGE INTO … WHEN NOT MATCHED THEN INSERT`` —
      the engine dedups against the whole table with bucket-partition
      pruning; exact and atomic.
    * **Parquet** path: anti-join the batch against ONLY the
      ``subject_bucket`` partitions its rows hash into (the batch's
      distinct bucket set is ≤ n_buckets values, driver-safe) — per-batch
      cost is O(batch + touched buckets), not O(table) — then append.
      Exactness relies on single-writer sequencing, which Structured
      Streaming's serial foreachBatch guarantees per query.

    ``exact_dedup=False`` degrades to plain partitioned appends (the
    within-watermark dedup upstream still applies). Returns the started
    StreamingQuery (availableNow trigger — re-invoke to drain new files).
    """
    from functools import reduce as _reduce

    from ..kg.table import (
        DEFAULT_BUCKETS,
        TRIPLE_COLS,
        is_catalog_table,
        subject_bucket,
        write_triples_table,
    )

    buckets = DEFAULT_BUCKETS if n_buckets is None else n_buckets

    def _sink(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        b = batch.select(*TRIPLE_COLS).dropDuplicates(TRIPLE_COLS)
        use_fmt = fmt
        if use_fmt is None:
            use_fmt = ("iceberg" if is_catalog_table(spark, target)
                       else "parquet")
        if use_fmt == "iceberg":
            if not spark.catalog.tableExists(target):
                write_triples_table(b, target, buckets, mode="overwrite",
                                    fmt="iceberg")
                return
            if exact_dedup:
                view = "__rml_stream_batch"
                b.createOrReplaceTempView(view)
                on = " AND ".join(f"t.{c} <=> v.{c}" for c in TRIPLE_COLS)
                spark.sql(f"MERGE INTO {target} t USING {view} v ON {on} "
                          "WHEN NOT MATCHED THEN INSERT *")
            else:
                write_triples_table(b, target, buckets, mode="append",
                                    fmt="iceberg")
            return
        if exact_dedup and _hadoop_path_exists(spark, target):
            touched = [r["b"] for r in b.select(
                subject_bucket(buckets).alias("b")).distinct().collect()]
            existing = (
                spark.read.parquet(target)
                .filter(F.col("subject_bucket").isin(touched))
                .select(*TRIPLE_COLS).alias("e")
            )
            bb = b.alias("b")
            cond = _reduce(
                lambda a, c: a & c,
                [F.col(f"b.{c}").eqNullSafe(F.col(f"e.{c}"))
                 for c in TRIPLE_COLS])
            b = bb.join(existing, cond, "left_anti")
        write_triples_table(b, target, buckets, mode="append",
                            fmt="parquet")

    return (
        sdf.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

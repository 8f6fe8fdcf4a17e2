"""The two workloads. Each one drives sparkrml only through its public API,
one client, closed loop (the next operation starts when the previous one
returns):

1. a **first build** in the fresh session (what a one-shot CLI or
   spark-submit user waits for, JIT and codegen warm-up included);
2. **recoveries** until the window ends (at least ``min_recoveries``):
   the build's final output is deleted and the build runs again in the
   same session — the KG pipeline resumes four stages from its checkpoints
   and recomputes the last, while an RML conversion keeps no checkpoints
   and so re-runs in full.

Every build and recovery is an operation, checked against DuckDB outside
its own timing; a wrong result counts as a failure.

The traced run repeats the same operations under spans, then probes the
layers the timed operations do not split: it serves the written table
(``read_triples_table`` → ``predicate_stats`` → a seeded SPARQL mix through
``sparql_select``, each query checked against DuckDB), and on the RML
workload forces single layers with the ``noop`` sink.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import time
from collections import defaultdict

import gen
import oracle

# input sizes (see BENCHMARK.json "why"): on 4 cores a first build takes
# ~25 s, nearly all of it JVM warm-up, and a recovery 5-9 s, so one run
# holds a first build and a few recoveries in well under a minute
N_LINEITEM = 20_000
N_DOCS = 8_000
MAX_RECOVERIES = 8
QUERIES = 20  # traced run only: two cycles of the mix
KG_STAGES = ("mentions", "media_spans", "sameas_edges", "canonical_mapping",
             "triples")

# every per-layer metric with its unit; a layer a workload does not reach
# reads 0 on that workload (see README.md for the layer map)
LAYER_UNITS = dict(
    [("parse_mapping.parse_ms", "ms"), ("compiler.compile_ms", "ms"),
     ("compiler.compile_jobs", "count"),
     ("sources.scan_s.csv", "s"), ("sources.scan_s.parquet", "s"),
     ("sources.scan_s.json", "s"), ("sources.rows", "count"),
     ("compiler.project_s", "s"), ("compiler.project_rows", "count"),
     ("compiler.join_s.broadcast", "s"), ("compiler.join_s.shuffle", "s"),
     ("compiler.join_rows", "count"), ("compiler.dedup_s", "s"),
     ("compiler.dedup_kept_ratio", "ratio"), ("kg.table.write_s", "s"),
     ("kg.table.files", "count"), ("kg.table.bytes_per_triple", "B")]
    + [(f"kg.lineage.stage_s.{s}", "s") for s in KG_STAGES]
    + [(f"kg.lineage.stage_rows.{s}", "count") for s in KG_STAGES]
    + [("kg.canonicalize.edges", "count"), ("kg.canonicalize.labels", "count"),
       ("kg.lineage.checkpoint_mb", "MB"),
       ("kg.lineage.stages_resumed", "count"), ("kg.query.stats_s", "s"),
       ("kg.sparql.parse_ms", "ms"), ("kg.sparql.plan_ms", "ms")]
    + [(f"kg.sparql.exec_ms.{s}", "ms") for s in gen.SHAPES]
    + [(f"kg.sparql.jobs.{s}", "count") for s in gen.SHAPES]
    + [("spark.tasks", "count"), ("spark.failed_tasks", "count"),
       ("spark.shuffle_mb", "MB"), ("spark.spill_mb", "MB"),
       ("spark.gc_s", "s")])


def noop(df) -> int:
    """Force every column of ``df`` through the noop sink; returns the row
    count, observed in the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("rows"))
       .write.format("noop").mode("overwrite").save())
    return obs.get["rows"]


def _dir_bytes(path: str) -> tuple:
    files, total = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(root, n))
    return files, total


class Workload:
    """Shared state of one run: session, tracer, DuckDB connection, the
    operation tally and the measured figures."""

    def __init__(self, spark, tracer, run_dir: str, seed: int, seconds: int,
                 log):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.log = log
        self.con = oracle.connect()
        self.attempted = 0
        self.failed = 0
        self.first_build_s = None
        self.recover_s = []
        self.evidence = {}
        self.layers = {k: 0.0 for k in LAYER_UNITS}

    # -- bookkeeping ------------------------------------------------------
    def record(self, what: str, problems: list) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.log(f"FAILED {what}: " + "; ".join(problems[:5]))

    # -- the closed loop --------------------------------------------------
    def run(self) -> None:
        """First build, then recoveries until the window ends; in the
        traced run, the serving probe and the workload's own probes."""
        self.prepare()
        deadline = time.perf_counter() + self.seconds
        k = 0
        while k == 0 or len(self.recover_s) < self.min_recoveries or (
                time.perf_counter() < deadline
                and len(self.recover_s) < MAX_RECOVERIES):
            with self.tracer.span("build" if k == 0 else "recover",
                                  attempt=k):
                secs = self.build(k)
            if k == 0:
                self.first_build_s = secs
            else:
                self.recover_s.append(secs)
            self.record("first build" if k == 0 else f"recovery {k}",
                        self.verify(k, secs))
            k += 1
        if self.tracer.enabled:
            self.serve(self.table, self.queries())
            self.probes()

    def verify(self, k: int, secs: float) -> list:
        """Per-predicate counts against DuckDB; a recovery must also
        reproduce the first build's table exactly."""
        got = oracle.table_counts(self.con, self.table)
        problems = oracle.compare_counts(self.expected, got)
        if k == 0:
            self.first = got
            self.evidence["triples"] = got["rows"]
        elif (got["rows"], got["hash"]) != (self.first["rows"],
                                            self.first["hash"]):
            problems.append("recovered table differs from first build")
        return problems

    def probes(self) -> None:
        """Workload-specific single-layer probes (traced run only)."""

    # -- serving probe (traced run) ---------------------------------------
    def serve(self, table_dir: str, queries: list) -> None:
        """Serve the written table: ``predicate_stats`` once, then each
        query as ``parse_select`` (timed alone), ``sparql_select`` (returns
        the lazy DataFrame; ``+`` closures run inside it) and ``collect``."""
        from pyrml_spark import sparql_select
        from pyrml_spark.kg.query import predicate_stats
        from pyrml_spark.kg.sparql import parse_select
        from pyrml_spark.kg.table import read_triples_table

        tr, L = self.tracer, self.layers
        triples = read_triples_table(self.spark, table_dir)
        with tr.span("kg.query.predicate_stats") as st:
            stats = predicate_stats(triples)
        L["kg.query.stats_s"] = st["end"] - st["start"]
        qo = oracle.QueryOracle(self.con, table_dir)
        parse_ms, plan_ms = [], []
        result_ms, jobs = defaultdict(list), defaultdict(list)
        for i, (shape, text, params) in enumerate(queries):
            with tr.span("query", shape=shape) as q:
                with tr.span("kg.sparql.parse_select") as ps:
                    parse_select(text)
                with tr.span("kg.sparql.sparql_select") as pl:
                    df = sparql_select(triples, text, stats=stats)
                with tr.span("collect") as ex:
                    rows = df.collect()
            parse_ms.append(1e3 * (ps["end"] - ps["start"]))
            plan_ms.append(1e3 * (pl["end"] - pl["start"]))
            result_ms[shape].append(1e3 * (ex["end"] - pl["start"]))
            jobs[shape].append(tr.jobs(q))
            want = qo.rows(shape, params)
            self.record(f"query {i} ({shape})",
                        [] if len(rows) == want else
                        [f"{len(rows)} rows, want {want}: {text}"])
        L["kg.sparql.parse_ms"] = statistics.median(parse_ms)
        L["kg.sparql.plan_ms"] = statistics.median(plan_ms)
        for shape in gen.SHAPES:
            L[f"kg.sparql.exec_ms.{shape}"] = statistics.median(result_ms[shape])
            L[f"kg.sparql.jobs.{shape}"] = statistics.median(jobs[shape])


# ---------------------------------------------------------------- rml_bulk

class RmlBulk(Workload):
    name = "rml_bulk"
    min_recoveries = 2

    def generate(self) -> None:
        self.star = gen.star_tables(os.path.join(self.run_dir, "star"),
                                    self.seed, N_LINEITEM)
        self.evidence["input_rows"] = self.star["rows"]

    def prepare(self) -> None:
        self.mapping = self.star["mapping"]
        self.table = os.path.join(self.run_dir, "rml_table")
        self.expected = oracle.star_expected(self.con, self.star["dir"])

    def queries(self) -> list:
        return gen.star_queries(self.seed, self.star, QUERIES)

    def build(self, k: int) -> float:
        """``convert`` + ``write_triples_table``; a recovery first loses
        the table."""
        from pyrml_spark import convert
        from pyrml_spark.compiler import RMLCompiler
        from pyrml_spark.kg.table import write_triples_table
        from pyrml_spark.parse_mapping import parse_mapping_file

        tr, mapping = self.tracer, self.mapping
        shutil.rmtree(self.table, ignore_errors=True)
        t0 = time.perf_counter()
        if tr.enabled:
            # convert() is parse + compile with the mapping's directory and
            # the working directory as search roots; spelled out so each
            # layer gets its own span
            with tr.span("parse_mapping.parse_mapping_file") as ps:
                plan = parse_mapping_file(mapping)
            roots = [os.path.dirname(os.path.abspath(mapping)), os.getcwd()]
            with tr.span("compiler.compile") as cs:
                df = RMLCompiler(self.spark, plan, search_roots=roots).compile()
            if k == 0:
                self.layers["parse_mapping.parse_ms"] = \
                    1e3 * (ps["end"] - ps["start"])
                self.layers["compiler.compile_ms"] = \
                    1e3 * (cs["end"] - cs["start"])
                self.layers["compiler.compile_jobs"] = cs["jobs"]
        else:
            df = convert(self.spark, mapping)
        with tr.span("kg.table.write_triples_table"):
            write_triples_table(df, self.table)
        return time.perf_counter() - t0

    def probes(self) -> None:
        """Force single layers with the noop sink."""
        from pyrml_spark.compiler import RMLCompiler
        from pyrml_spark.kg.table import write_triples_table
        from pyrml_spark.parse_mapping import parse_mapping_file
        from pyrml_spark.sources import SourceLoader

        tr, L, mapping = self.tracer, self.layers, self.mapping
        roots = [os.path.dirname(os.path.abspath(mapping)), os.getcwd()]
        plan = parse_mapping_file(mapping)
        loader = SourceLoader(self.spark, search_roots=roots)
        seen = set()
        with tr.span("probe.sources"):
            for tm in plan.triples_maps:
                for ls in tm.sources:
                    if ls.cache_key() in seen:
                        continue
                    seen.add(ls.cache_key())
                    df = loader.load(ls)
                    with tr.span("sources.scan", kind=ls.kind) as sp:
                        L["sources.rows"] += noop(df)
                    L[f"sources.scan_s.{ls.kind}"] += sp["end"] - sp["start"]

        comp = RMLCompiler(self.spark, plan, search_roots=roots)
        with tr.span("probe.branches"):
            for tm in plan.triples_maps:
                roms = [rom for pom in tm.poms for rom in pom.ref_objects]
                # compile_triples_map returns the plain-term branch first,
                # then one branch per referencing object map
                branches = comp.compile_triples_map(tm)
                n_plain = len(branches) - len(roms)
                for b in branches[:n_plain]:
                    with tr.span("compiler.project", tm=tm.iri) as sp:
                        L["compiler.project_rows"] += noop(b)
                    L["compiler.project_s"] += sp["end"] - sp["start"]
                for b in branches[n_plain:]:
                    out = io.StringIO()
                    with contextlib.redirect_stdout(out):
                        b.explain(mode="formatted")
                    strategy = ("broadcast" if "Broadcast" in out.getvalue()
                                else "shuffle")
                    with tr.span("compiler.join", tm=tm.iri,
                                 strategy=strategy) as sp:
                        L["compiler.join_rows"] += noop(b)
                    L[f"compiler.join_s.{strategy}"] += (sp["end"]
                                                        - sp["start"])

        with tr.span("probe.dedup"):
            dedup, raw = comp.compile(deduplicate=True), comp.compile(False)
            with tr.span("compiler.union_dedup") as full:
                kept = noop(dedup)
            with tr.span("compiler.union") as bare:
                rows_in = noop(raw)
            L["compiler.dedup_s"] = ((full["end"] - full["start"])
                                     - (bare["end"] - bare["start"]))
            L["compiler.dedup_kept_ratio"] = kept / rows_in

        with tr.span("probe.write"):
            df = comp.compile().persist()
            n = df.count()
            out = os.path.join(self.run_dir, "probe_table")
            with tr.span("kg.table.write_triples_table") as sp:
                write_triples_table(df, out)
            df.unpersist()
            files, size = _dir_bytes(out)
            L["kg.table.write_s"] = sp["end"] - sp["start"]
            L["kg.table.files"] = files
            L["kg.table.bytes_per_triple"] = size / n


# ---------------------------------------------------------------- kg_build

class KgBuild(Workload):
    name = "kg_build"
    min_recoveries = 2

    def generate(self) -> None:
        self.corpus = gen.documents(os.path.join(self.run_dir, "docs"),
                                    self.seed, N_DOCS,
                                    n_files=2 * len(os.sched_getaffinity(0)))
        self.evidence["input_docs"] = self.corpus["docs"]
        self.evidence["input_spans"] = self.corpus["spans"]

    def prepare(self) -> None:
        self.expected = oracle.kg_expected(self.con, self.corpus["path"])
        self.work = os.path.join(self.run_dir, "kg")
        self.table = os.path.join(self.work, "stages", "triples")
        self.manifest = os.path.join(self.work, "manifest.jsonl")
        self.docs = self.spark.read.parquet(self.corpus["path"])
        self.tag = f"perfbench-docs-{self.seed}-{N_DOCS}"

    def queries(self) -> list:
        return gen.kg_queries(self.seed, self.corpus, QUERIES)

    def build(self, k: int) -> float:
        """``run_pipeline``; a recovery first loses the final stage's
        checkpoint."""
        from pyrml_spark.kg.pipeline import run_pipeline

        if k:
            shutil.rmtree(self.table)
        self.records_before = len(_stage_records(self.manifest)) if k else 0
        t0 = time.perf_counter()
        run_pipeline(self.spark, self.work, documents=self.docs,
                     input_tag=self.tag)
        return time.perf_counter() - t0

    def verify(self, k: int, secs: float) -> list:
        """The table checks, plus: a recovery must serve exactly the other
        four stages from their checkpoints."""
        problems = super().verify(k, secs)
        if k == 0:
            self.evidence["triples_per_s_first_build"] = (
                self.first["rows"] / secs)
            if self.tracer.enabled:
                self._manifest_layers()
        else:
            recomputed = (len(_stage_records(self.manifest))
                          - self.records_before)
            resumed = len(KG_STAGES) - recomputed
            self.layers["kg.lineage.stages_resumed"] = resumed
            if resumed != len(KG_STAGES) - 1:
                problems.append(f"{resumed} stages resumed, want "
                                f"{len(KG_STAGES) - 1}")
        return problems

    def _manifest_layers(self) -> None:
        L = self.layers
        for rec in _stage_records(self.manifest):
            L[f"kg.lineage.stage_s.{rec['stage']}"] = rec["elapsed_sec"]
            L[f"kg.lineage.stage_rows.{rec['stage']}"] = rec["rows"]
        with open(self.manifest) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("stage") == "cc_driver_union_find":
                    L["kg.canonicalize.edges"] = rec["event"]["edges"]
                    L["kg.canonicalize.labels"] = rec["event"]["labels"]
        L["kg.lineage.checkpoint_mb"] = (
            _dir_bytes(os.path.join(self.work, "stages"))[1] / 1e6)


def _stage_records(manifest: str) -> list:
    with open(manifest) as f:
        recs = [json.loads(line) for line in f]
    return [r for r in recs if "input_fingerprint" in r]


WORKLOADS = {w.name: w for w in (RmlBulk, KgBuild)}

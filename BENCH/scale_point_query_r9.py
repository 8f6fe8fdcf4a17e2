#!/usr/bin/env python
"""Query-surface scale point, round-9 re-run (VERDICT r8 #3).

Same method as scale_point_query.py (fused sink per scale, histogram once
per sink, reps interleaved across scales, noop-forced, in-leg bandwidth
sampler), with the two additions the r8 verdict asked for:

  * pagerank   — fixed-point PageRank over the co-mention graph of an
                 n_docs-scaled corpus (the kg_pagerank body with the doc
                 count parameterized; the driver row itself is pinned to
                 the 300-doc oracle corpus)
  * sparql_path — the sameAs+ closure query (SPARQL_PATH_QUERY) over the
                 materialized sink: pointer-doubling transitive closure
                 joined through mentions into a hasMedia/mediaKind path

plus twohop and sparql_media unchanged.  The r8 artifact's defect was a
146x within-cell rep swing from a contended pass; this run is accepted
only if every (query, size) cell's reps agree within ~2x — the bw trace
in the artifact makes that auditable.

Usage:  python BENCH/scale_point_query_r9.py [--small 100000]
        [--big 1000000] [--reps 3]
Writes BENCH/scale_point_query_r9.json; compact summary on the last
stdout line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import start_bw_sampler, stop_bw_sampler  # noqa: E402


def build_sink(spark, n_docs: int, shm: str | None):
    from pyrml_spark.kg.pipeline import KGPipelineConfig, run_pipeline_fused

    d = tempfile.mkdtemp(prefix=f"kg_qscale_{n_docs}_", dir=shm)
    t0 = time.time()
    out = run_pipeline_fused(
        spark, d + "/out",
        KGPipelineConfig(n_docs=n_docs, use_pandas_extractor=False,
                         gen_partitions=64, final_repartition=True))
    n = out.count()
    return d + "/out", n, round(time.time() - t0, 2)


def load(spark, path):
    from pyrml_spark.kg.query import predicate_stats
    from pyrml_spark.kg.table import read_triples_table

    df = read_triples_table(spark, path, fmt="parquet").select("s", "p", "o")
    return df, predicate_stats(df)


def q_twohop(spark, n_docs, df, stats):
    from pyrml_spark.kg.analytics import TWOHOP_PATTERNS, TWOHOP_SELECT
    from pyrml_spark.kg.query import kg_query

    return kg_query(df, TWOHOP_PATTERNS, select=TWOHOP_SELECT, stats=stats)


def q_sparql_media(spark, n_docs, df, stats):
    from pyrml_spark.kg.analytics import SPARQL_MEDIA_QUERY
    from pyrml_spark.kg.sparql import sparql_select

    return sparql_select(df, SPARQL_MEDIA_QUERY, stats=stats)


def q_sparql_path(spark, n_docs, df, stats):
    from pyrml_spark.kg.analytics import SPARQL_PATH_QUERY
    from pyrml_spark.kg.sparql import sparql_select

    return sparql_select(df, SPARQL_PATH_QUERY, stats=stats)


def q_pagerank(spark, n_docs, df, stats):
    """kg_pagerank's exact body over an n_docs-scaled corpus (the sink df
    is unused — PageRank runs on the co-mention graph, which scales with
    the corpus; xxhash64 family, the bench-speed generator)."""
    from pyspark.sql import functions as F

    from pyrml_spark.kg.analytics import PR_ITERS, PR_SCALE
    from pyrml_spark.kg.canonicalize import connected_components_auto
    from pyrml_spark.kg.datagen import generate_documents
    from pyrml_spark.kg.extract import mentions_native, sameas_candidates

    docs = generate_documents(spark, n_docs)
    mentions = mentions_native(docs)
    cc, _ = connected_components_auto(sameas_candidates(mentions))
    mapping = cc.select(F.col("node").alias("entity"),
                        F.col("component").alias("canonical"))
    ents = (
        mentions.join(
            mapping,
            (mentions["surface"] == mapping["entity"])
            & (mentions["etype"] == "person"),
            "left",
        )
        .select(
            "doc_id",
            F.concat_ws("/", "etype",
                        F.coalesce("canonical", "surface")).alias("ent"),
        )
        .distinct()
    )
    a, b = ents.alias("a"), ents.alias("b")
    edges = (
        a.join(b, "doc_id")
        .filter(F.col("a.ent") != F.col("b.ent"))
        .select(F.col("a.ent").alias("src"), F.col("b.ent").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    ranks = deg.select(F.col("src").alias("node"),
                       F.lit(PR_SCALE).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(deg, "src")
            .join(ranks, edges["src"] == ranks["node"])
            .select("dst", F.expr("r div degree").alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(150_000) + F.expr("(85 * s) div 100"))
                .cast("long").alias("r"),
            )
        )
    return ranks.select(F.col("node").alias("entity"),
                        F.col("r").alias("pagerank_fp"))


QUERIES = {"twohop": q_twohop, "sparql_media": q_sparql_media,
           "sparql_path": q_sparql_path, "pagerank": q_pagerank}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=100_000)
    ap.add_argument("--big", type=int, default=1_000_000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    sizes = [args.small, args.big]

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[32]")
             .appName("kg_scale_point_query_r9")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_BENCH_MEM", "48g"))
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    proc, path = start_bw_sampler(period=12.0)
    try:
        sinks = {}
        builds = {}
        for n in sizes:
            p, triples, sec = build_sink(spark, n, shm)
            sinks[n] = load(spark, p)
            builds[n] = {"triples": triples, "build_sec": sec}
            print(f"sink {n}: {builds[n]}", file=sys.stderr)
        for name, fn in QUERIES.items():
            force(fn(spark, sizes[0], *sinks[sizes[0]]))
        runs = []
        for _rep in range(args.reps):
            for name, fn in QUERIES.items():
                for n in sizes:
                    df, stats = sinks[n]
                    t0 = time.time()
                    force(fn(spark, n, df, stats))
                    dt = time.time() - t0
                    r = {"query": name, "n_docs": n,
                         "triples": builds[n]["triples"],
                         "sec": round(dt, 3),
                         "t_end": round(time.time(), 2)}
                    runs.append(r)
                    print("leg:", json.dumps(r), file=sys.stderr)
    finally:
        bw = stop_bw_sampler(proc, path)

    best, worst = {}, {}
    for r in runs:
        k = (r["query"], r["n_docs"])
        if k not in best or r["sec"] < best[k]["sec"]:
            best[k] = r
        if k not in worst or r["sec"] > worst[k]["sec"]:
            worst[k] = r
    data_ratio = (builds[args.big]["triples"]
                  / builds[args.small]["triples"])
    result = {
        "metric": "query latency vs graph size (10x scale point, r9)",
        "builds": {str(n): b for n, b in builds.items()},
        "data_ratio": round(data_ratio, 3),
        "runs": runs,
        "best": {f"{q}_{n}": v for (q, n), v in best.items()},
        "cell_spread": {f"{q}_{n}": round(worst[(q, n)]["sec"]
                                          / best[(q, n)]["sec"], 2)
                        for (q, n) in best},
        "latency_ratio": {
            q: round(best[(q, args.big)]["sec"]
                     / best[(q, args.small)]["sec"], 3)
            for q in QUERIES},
        **bw,
    }
    out_path = os.path.join(REPO, "BENCH", "scale_point_query_r9.json")
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items()
                      if k not in ("bw_samples", "runs")}))


if __name__ == "__main__":
    main()

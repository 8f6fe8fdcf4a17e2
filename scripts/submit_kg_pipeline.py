#!/usr/bin/env python
"""spark-submit driver for the KG-construction pipeline (north_rule: "run
via spark-submit --py-files on a multi-executor cluster at two cluster
sizes N and 4N executors").

    python -m pyrml_spark.package /tmp/pyrml_spark.zip
    spark-submit [--master yarn --num-executors N ...] \
        --py-files /tmp/pyrml_spark.zip \
        scripts/submit_kg_pipeline.py \
        --docs 1000000 --out /data/kg_triples --mode fused

Cluster topology (master, executor count/cores/memory) comes from
spark-submit; this driver only sets app-level SQL conf. ``--mode
checkpointed`` uses the resumable StageRunner path (``--work-dir`` holds
the manifest + stage checkpoints); ``--mode fused`` is the single-write
throughput path. ``--input`` reads an existing interleaved documents table
(parquet; (doc_id, spans) schema per BASELINE.json input_hint) instead of
the deterministic generator.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="submit_kg_pipeline")
    ap.add_argument("--docs", type=int, default=100_000,
                    help="synthetic corpus size (ignored with --input)")
    ap.add_argument("--input", default=None,
                    help="parquet path of an existing documents table")
    ap.add_argument("--input-tag", default=None,
                    help="stable identity for --input (enables resume)")
    ap.add_argument("--out", required=True, help="output table path")
    ap.add_argument("--mode", choices=["fused", "checkpointed"],
                    default="fused")
    ap.add_argument("--work-dir", default=None,
                    help="manifest + checkpoints dir (checkpointed mode)")
    ap.add_argument("--buckets", type=int, default=32)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("pyrml_spark_kg")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    from pyrml_spark.kg.pipeline import (KGPipelineConfig, run_pipeline,
                                         run_pipeline_fused)

    cfg = KGPipelineConfig(n_docs=args.docs, n_subject_buckets=args.buckets)
    t0 = time.time()
    documents = (spark.read.parquet(args.input) if args.input else None)
    if args.mode == "fused":
        out = run_pipeline_fused(spark, args.out, cfg, documents=documents)
    else:
        work = args.work_dir or (args.out.rstrip("/") + "_work")
        out = run_pipeline(spark, work, cfg, documents=documents,
                           input_tag=args.input_tag)
        out.write.mode("overwrite").partitionBy("subject_bucket") \
            .parquet(args.out)
    n = out.count()
    dt = time.time() - t0
    print(json.dumps({"triples": n, "elapsed_sec": round(dt, 2),
                      "triples_per_sec": round(n / dt, 1),
                      "mode": args.mode, "out": args.out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

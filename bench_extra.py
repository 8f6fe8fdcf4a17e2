#!/usr/bin/env python
"""Side benchmark for optimization work (bench.py is FROZEN for the driver).

Times any subset of declared queries with the noop sink (guide §1.4) on the
same session shape as bench.py, prints per-query best-of seconds, and can
dump .explain("formatted") plans.

Usage:
    python bench_extra.py [--sf DIR] [--reps N] [--plans OUTDIR] [query ...]

With no query names, runs every declared query (all_queries()). ``--sf``
defaults to $SPARK_GRAFT_SF_DIR, else /root/testdata/sf0.1, as in bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyrml_spark.plans.tuning import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans", default=None,
                    help="directory to write <query>.txt explain dumps")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from __spark_entry__ import all_queries

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        "pyrml_spark_bench_extra", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        driver_memory=os.environ.get("SPARK_BENCH_MEM", "48g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qmap = all_queries()
    names = args.queries or list(qmap)
    unknown = [n for n in names if n not in qmap]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    # session warmup, same shape as bench.py
    from pyspark.sql import functions as F
    warm = (spark.read.parquet(f"{args.sf}/region.parquet")
            .crossJoin(spark.range(10_000))
            .groupBy("r_regionkey").agg(F.count("*").alias("c")))
    warm.write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for _rep in range(args.reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            df = qmap[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            print(f"  rep {name}: {dt:.3f}s", file=sys.stderr, flush=True)
    if args.plans:
        import contextlib
        import io

        os.makedirs(args.plans, exist_ok=True)
        for name in names:
            df = qmap[name](spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w",
                      encoding="utf-8") as fh:
                fh.write(buf.getvalue())
    print(json.dumps({"sf": args.sf, "reps": args.reps,
                      "queries": timings,
                      "total": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()

"""sparkrml benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload rml_bulk --seed 1 --seconds 40 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts one local Spark session sized to the host (``local[nproc]``,
driver memory from MemTotal), drives sparkrml through its public API,
checks every operation against DuckDB and prints, as the last line of
stdout, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1`` (a
separate run that records spans and Spark's event log).

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the run's data directory is removed at exit, the span trace and
the last untraced figures (used to report tracing overhead) are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def _configure_env(run_dir: str, traced: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``
    and pass the session's launch-time settings to spark-submit."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.compress"] = "false"
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, then reap
            proc.kill()
            proc.wait()


def _overhead(workload: str, traced: dict) -> dict:
    """Traced figures against the last untraced run of this workload in
    this checkout (same code, possibly another seed)."""
    path = os.path.join(WORK, f"last-untraced-{workload}.json")
    if not os.path.exists(path):
        return {"note": "no untraced run recorded in this checkout"}
    with open(path) as f:
        base = json.load(f)
    return {k: {"traced": v, "untraced": base["metrics"][k],
                "overhead_pct": 100.0 * (v / base["metrics"][k] - 1)}
            for k, v in traced.items() if base["metrics"].get(k)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import pyrml_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    import host
    import spans
    from workloads import LAYER_UNITS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    mem = host.PeakMemory().start()
    traced = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(WORK, run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        _configure_env(run_dir, traced)
        nproc = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
        driver_mem = host.driver_memory()
        log(f"host: nproc={nproc} mem_total_gb="
            f"{host.mem_total_bytes() / 2**30:.1f} driver_memory={driver_mem} "
            f"pyspark={pyspark.__version__}")

        wl_cls = WORKLOADS[args.workload]
        from pyrml_spark.plans.tuning import build_session

        spark = build_session(f"perfbench-{args.workload}",
                              master=f"local[{nproc}]", driver_memory=driver_mem)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = spans.Tracer(spark, run_id, traced)
        wl = wl_cls(spark, tracer, run_dir, args.seed, args.seconds, log)
        wl.generate()
        setup_s = time.perf_counter() - T_START

        cotenant = host.CoTenant().start()
        wl.run()
        evidence = cotenant.delta()
        _stop_spark(spark)
        spark = None
        peak_mb = mem.stop() / 2**20

        e2e = {
            "setup_s": (setup_s, "s"),
            "first_build_s": (wl.first_build_s, "s"),
            "recover_s": (statistics.median(wl.recover_s), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
        wl.evidence["recover_samples_s"] = wl.recover_s
        wl.evidence["pss_mb_at_peak"] = {
            k: round(v / 2**20) for k, v in mem.at_peak.items()}
        log("co-tenant: " + json.dumps(evidence))
        log("evidence: " + json.dumps(wl.evidence, default=float))
        for k, (v, u) in e2e.items():
            log(f"{k} = {v:.4f} {u}")

        if traced:
            counters = spans.event_log_counters(
                os.path.join(run_dir, "eventlog"))
            tot = counters["*"]
            layers = wl.layers
            layers.update({
                "spark.tasks": tot["tasks"],
                "spark.failed_tasks": tot["failed_tasks"],
                "spark.shuffle_mb": tot["shuffle_bytes"] / 2**20,
                "spark.spill_mb": tot["spill_bytes"] / 2**20,
                "spark.gc_s": tot["gc_ms"] / 1e3,
            })
            trace_path = os.path.join(WORK, f"trace-{run_id}.json")
            tracer.dump(trace_path, counters)
            log(f"spans: {len(tracer.spans)} written to {trace_path}")
            log("tracing overhead: " + json.dumps(_overhead(
                args.workload, {k: e2e[k][0] for k in ("first_build_s",
                                                        "recover_s")})))
            metrics = {k: {"value": float(layers[k]), "unit": u}
                       for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": float(v), "unit": u}
                       for k, (v, u) in e2e.items()}
            with open(os.path.join(WORK, f"last-untraced-{args.workload}"
                                   ".json"), "w") as f:
                json.dump({"seed": args.seed, "metrics": {
                    k: v["value"] for k, v in metrics.items()}}, f)

        print(json.dumps({"correct": wl.failed == 0,
                          "attempted": wl.attempted, "failed": wl.failed,
                          "metrics": metrics}), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            mem.stop()
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

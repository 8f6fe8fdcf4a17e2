"""Checkpointed, resumable stage runner with per-stage lineage + metrics
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"; no reference counterpart — new design per SURVEY.md §4/§7).

Each stage writes its output DataFrame to ``<dir>/stages/<name>`` (Parquet —
the same writer API an Iceberg catalog would take) and appends a manifest
record::

    {stage, input_fingerprint, rows, partitions, elapsed_sec, path,
     extra: {...}, per_partition: [{partition, rows}, ...]}

On re-run, a stage whose (name, input_fingerprint) matches the manifest is
served from its checkpoint — the pipeline resumes mid-DAG after a crash.
Fingerprints are driver-side hashes of the stage's declared inputs (config +
upstream fingerprints), not data scans, so resume decisions are O(1).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fingerprint(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


@dataclass
class StageRecord:
    stage: str
    input_fingerprint: str
    rows: int
    # read-back partitions that hold rows: 0 for an empty stage, and a
    # split that gets no row group of a file larger than one split is not
    # counted, so this can be below the scan's partition count
    partitions: int
    elapsed_sec: float
    path: str
    extra: dict = field(default_factory=dict)
    per_partition: list = field(default_factory=list)


class StageRunner:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.manifest_path = os.path.join(base_dir, "manifest.jsonl")
        self.stage_dir = os.path.join(base_dir, "stages")
        os.makedirs(self.stage_dir, exist_ok=True)
        self._manifest: Dict[tuple, dict] = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                for line in f:
                    rec = json.loads(line)
                    if "input_fingerprint" in rec:  # skip free-form events
                        self._manifest[(rec["stage"], rec["input_fingerprint"])] = rec

    # ------------------------------------------------------------------
    def run(
        self,
        name: str,
        input_fp: str,
        build: Callable[[], DataFrame],
        partition_by: Optional[List[str]] = None,
        extra_metrics: Optional[Callable[[DataFrame], dict]] = None,
    ) -> DataFrame:
        """Run (or resume) a stage. Returns the checkpointed DataFrame."""
        key = (name, input_fp)
        path = os.path.join(self.stage_dir, name)
        rec = self._manifest.get(key)
        if rec is not None and os.path.exists(rec["path"]):
            return self.spark.read.parquet(rec["path"])

        t0 = time.perf_counter()
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        # one job yields the per-partition lineage, the total row count (its
        # sum) and the count of partitions that hold rows (its length) — no
        # count() job, and no ``DataFrame.rdd``, which Spark Connect does
        # not have
        per_partition = [
            {"partition": r["pid"], "rows": r["rows"]}
            for r in out.groupBy(
                F.spark_partition_id().alias("pid")
            ).agg(F.count(F.lit(1)).alias("rows")).collect()
        ]
        record = StageRecord(
            stage=name,
            input_fingerprint=input_fp,
            rows=sum(p["rows"] for p in per_partition),
            partitions=len(per_partition),
            elapsed_sec=round(time.perf_counter() - t0, 3),
            path=path,
            extra=extra_metrics(out) if extra_metrics else {},
            per_partition=per_partition,
        )
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(record.__dict__) + "\n")
        self._manifest[key] = record.__dict__
        return out

    def record_event(self, stage: str, payload: dict) -> None:
        """Free-form manifest entry (e.g. per-iteration CC convergence)."""
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps({"stage": stage, "event": payload}) + "\n")

    def stage_rows(self, name: str, input_fp: str) -> Optional[int]:
        """Recorded row count for a completed stage (None if not run) —
        lets downstream planning (e.g. conditional broadcasts) reuse the
        manifest instead of spending a count job."""
        rec = self._manifest.get((name, input_fp))
        return None if rec is None else rec.get("rows")


"""Checkpointed, resumable stage runner with per-stage lineage + metrics
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"; no reference counterpart — new design per SURVEY.md §4/§7).

Each stage writes its output DataFrame to ``<dir>/stages/<name>`` (Parquet —
the same writer API an Iceberg catalog would take) and appends a manifest
record::

    {stage, input_fingerprint, rows, partitions, elapsed_sec, path,
     extra: {...}, per_partition: [{file, rows}, ...], schema: {...}}

``per_partition`` has one entry per Parquet file that holds rows (for the
bucketed ``triples`` stage: one per subject bucket), ``file`` relative to the
stage directory. The counts come from the footers the write just produced
(``FileMetaData.num_rows``, read on the driver), so the lineage costs no
Spark job. ``rows`` is their sum and ``partitions`` their number. ``schema``
is the StructType JSON of the written frame as Spark reads it back (every
field nullable, partition columns last).

On re-run, a stage whose (name, input_fingerprint) matches the manifest is
served from its checkpoint — the pipeline resumes mid-DAG after a crash.
Fingerprints are driver-side hashes of the stage's declared inputs (config +
upstream fingerprints), not data scans, so resume decisions are O(1). Resume
and the fresh read-back read with the recorded schema, so Spark reads no
footer and starts no job; a record without ``schema`` (an older work dir)
is read with schema inference.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def fingerprint(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def written_schema(df: DataFrame,
                   partition_by: Optional[List[str]] = None) -> StructType:
    """The schema Spark infers when it reads back ``df`` written as Parquet
    with ``partitionBy(*partition_by)``: every field nullable at every
    depth (the writer makes the files nullable) and the partition columns
    last, in directory order. Reading with it skips the footer job."""
    last = list(partition_by or [])
    fields = ([f for f in df.schema.fields if f.name not in last]
              + [df.schema[c] for c in last])
    return StructType.fromJson(_nullable(StructType(fields).jsonValue()))


def _nullable(node):
    if isinstance(node, list):
        return [_nullable(v) for v in node]
    if not isinstance(node, dict):
        return node
    return {k: (True if k in ("nullable", "containsNull", "valueContainsNull")
                else v if k == "metadata" else _nullable(v))
            for k, v in node.items()}


def _file_lineage(path: str) -> List[dict]:
    """``{file, rows}`` for each Parquet data file under ``path`` that holds
    rows, from its footer. Names starting with ``_`` or ``.`` (``_SUCCESS``,
    checksum files) are skipped, as Spark's reader skips them."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            f = os.path.join(root, name)
            rows = pq.read_metadata(f).num_rows
            if rows:
                out.append({"file": os.path.relpath(f, path), "rows": rows})
    return out


@dataclass
class StageRecord:
    stage: str
    input_fingerprint: str
    rows: int
    # Parquet files that hold rows (0 for an empty stage): one per
    # per_partition entry
    partitions: int
    elapsed_sec: float
    path: str
    extra: dict = field(default_factory=dict)
    per_partition: list = field(default_factory=list)
    schema: Optional[dict] = None


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
            if rec.get("schema") is None:  # written before schemas were kept
                return self.spark.read.parquet(rec["path"])
            return self.spark.read.schema(
                StructType.fromJson(rec["schema"])).parquet(rec["path"])

        t0 = time.perf_counter()
        df = build()
        schema = written_schema(df, partition_by)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.schema(schema).parquet(path)
        per_partition = _file_lineage(path)
        record = StageRecord(
            stage=name,
            input_fingerprint=input_fp,
            rows=sum(p["rows"] for p in per_partition),
            partitions=len(per_partition),
            elapsed_sec=round(time.perf_counter() - t0, 3),
            path=path,
            extra=extra_metrics(out) if extra_metrics else {},
            per_partition=per_partition,
            schema=schema.jsonValue(),
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


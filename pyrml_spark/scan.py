"""Scan-parallelism floor for benchmark-scale parquet inputs.

The bench tables are written as one (or a few) small parquet files with a
single row group each, so a plain ``spark.read.parquet`` yields one scan
partition and every narrow operator downstream runs on ONE core of the
``local[N]`` session (measured: the 5-gram shingle explode over 50k docs
took 26 s single-partition vs ~1 s spread over 32; guide §2.5 "input skew"
/ §6 "input split size").  ``spark.sql.files.minPartitionNum`` cannot fix
this — a file splits at row-group boundaries and these files have one row
group each.

``read_parquet_parallel`` therefore round-robin-repartitions the scan to
the session's shuffle parallelism, but ONLY when the input is small enough
that the scan cannot reach that parallelism on its own: the gate estimates
the split count from the input's byte size against the session's
``spark.sql.files.maxPartitionBytes`` (128 MB by default), so any input
larger than ``partitions × maxPartitionBytes`` — every production table —
skips the repartition and keeps its native splits (no extra exchange in
the plan). The target derives from ``spark.sql.shuffle.partitions`` —
never a hard-coded core count — so the same code is right on ``local[4]``,
32 and a cluster.

Connect-pure by design (no ``sparkContext``/``rdd``): the byte probe uses
plain ``os`` on the path and silently skips for non-local URIs (object
stores), where inputs are production-sized anyway.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

# Spark byte-size strings: "134217728", "128MB", "64m", "1g" (a bare number
# is bytes for spark.sql.files.maxPartitionBytes)
_BYTE_STRING = re.compile(r"\s*(\d+)\s*([kmgtp]?)b?\s*", re.IGNORECASE)


def _parse_bytes(value: str) -> int | None:
    """Bytes of a Spark byte-size string; None if it is not one."""
    m = _BYTE_STRING.fullmatch(value)
    if m is None:
        return None
    return int(m.group(1)) << (10 * " kmgtp".index(m.group(2).lower() or " "))


def local_input_bytes(path: str) -> int | None:
    """Total bytes of a local file or directory; None if unknown."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            return total
    except OSError:
        return None
    return None


def parallelize_scan(spark: SparkSession, df: DataFrame,
                     path: str) -> DataFrame:
    """Floor an already-built scan's parallelism (see module docstring)."""
    try:
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
        split_bytes = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:  # noqa: BLE001 — parallelism floor is best-effort
        return df
    if target <= 1 or not split_bytes:
        return df
    n_bytes = local_input_bytes(path)
    if n_bytes is None:
        return df
    est_splits = max(1, n_bytes // split_bytes)
    if est_splits < target:
        df = df.repartition(target)
    return df


def read_parquet_parallel(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with a floor on scan parallelism."""
    return parallelize_scan(spark, spark.read.parquet(path), path)

"""Session tuning defaults for the engine — one place for the knobs the
100 TB design cares about (AQE, skew join, shuffle sizing, Arrow)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Row-count ceiling for the canonical entity mapping's broadcast. ~4M short
# string pairs ≈ low hundreds of MB per executor — comfortably under a
# typical 4-8 GB executor heap; beyond it a forced broadcast OOMs every
# executor at once, which is exactly the failure mode at the north rule's
# 10^12-doc scale where the entity→canonical table holds billions of
# aliases.
BROADCAST_MAX_ROWS = 4_000_000


def maybe_broadcast(df: DataFrame, row_hint: int | None = None) -> DataFrame:
    """Broadcast ``df`` only when it is provably small.

    One caller: the KG canonical mapping (``kg/extract.py``). That table is
    a driver-built frame, the checkpointed output of the distributed
    min-label loop or a stage checkpoint, so Spark's planner cannot size
    it from its inputs, while its caller knows its row count (the
    union-find gate or the lineage manifest). Every other join, the RML
    referencing-object-map joins included, is left to Spark's own
    ``spark.sql.autoBroadcastJoinThreshold`` decision over the pruned
    size estimate.

    ``row_hint``: caller-known row count — avoids any extra job. When
    absent, a bounded ``limit(BROADCAST_MAX_ROWS + 1).count()`` probe
    decides: CollectLimit early-exits, so the probe touches at most one
    extra row past the ceiling instead of scanning the full table. Above
    the ceiling the DataFrame is returned as-is, letting Catalyst pick a
    shuffle hash/sort-merge join — with AQE skew-split (and
    :func:`pyrml_spark.plans.salting.salted_join` for pathological
    celebrity keys) carrying the skewed probe side.
    """
    if row_hint is None:
        row_hint = df.limit(BROADCAST_MAX_ROWS + 1).count()
    if row_hint <= BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df


def build_session(
    app_name: str = "pyrml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """The engine's session (``getOrCreate``), tuned for the knobs above.

    It switches PySpark's DataFrame call-site capture off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With
    capture on, every ``F.*`` call and DataFrame method sets and clears
    a JVM-side origin around itself: on the perfbench star mapping that
    is about 4 600 of the 10 400 Py4J round trips of an RML re-compile.
    The trade-off: an analysis error no longer names the Python line
    that built the failing Column. For Columns the engine builds that
    line is inside ``pyrml_spark/terms.py``, which tells a user nothing
    about their mapping. Sessions that callers build themselves keep
    their own setting; PySpark reads it once per process, from the
    session active at the first DataFrame call.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    b = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    return b.getOrCreate()

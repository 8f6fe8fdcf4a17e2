"""Partitioned (s,p,o,g) triples-table sink — the north rule's "materialized
graph written as partitioned (subj, pred, obj, graph) Iceberg tables".

Two paths behind one function:

* **Iceberg catalog path** (``DataFrameWriterV2``): when the session has an
  Iceberg catalog configured (``spark.sql.catalog.<name>`` — the public
  ``org.apache.iceberg.spark.SparkCatalog`` setup) and ``target`` is a
  catalog table name, the write goes through ``df.writeTo(target)
  .using("iceberg").partitionedBy(bucket(n, col("s")))`` — hidden-partition
  bucketing on the subject, so point lookups and subject-keyed joins prune
  files without a user-visible bucket column.
* **Path fallback** (this sandbox — no Iceberg runtime jar is installed):
  the SAME layout as an explicit column — ``subject_bucket =
  pmod(xxhash64(s), n)`` — written as ``partitionBy("subject_bucket")``
  parquet, rows first clustered by :func:`bucket_clustered` so each bucket
  is written by exactly one task, as one file, and the write tasks share
  the buckets evenly (an unaligned partitionBy forks tasks×buckets small
  files whose commit is driver-serial).

Both paths cluster by a deterministic subject hash, which is what the
100 TB design needs: downstream per-subject reads touch 1/n of the files,
and re-runs co-locate with previous output for merge/upsert patterns.

Reference: the rdflib ``Dataset.serialize`` sink (pyrml_mapper.py:137-140)
has no table concept at all — this module is new design per SURVEY.md §2.1
S8 / §7 step 7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32

TRIPLE_COLS = ("s", "p", "o", "g")


def iceberg_catalogs(spark: SparkSession) -> list:
    """Names of Iceberg catalogs configured on this session (public conf
    surface: ``spark.sql.catalog.<name> = org.apache.iceberg...``).

    Enumerated from the runtime SQL conf (``SET`` over the session state) —
    not ``sparkContext.getConf()``, which misses catalogs registered after
    session start via ``spark.conf.set`` and does not exist under Spark
    Connect (ADVICE r3)."""
    out = []
    for row in spark.sql("SET").collect():
        k, v = row["key"], (row["value"] or "")
        parts = k.split(".")
        if (len(parts) == 4 and parts[:3] == ["spark", "sql", "catalog"]
                and "iceberg" in v.lower()):
            out.append(parts[3])
    return out


def is_catalog_table(spark: SparkSession, target: str) -> bool:
    """Whether ``target`` names a table of a configured Iceberg catalog: a
    dotted name without ``/`` whose first segment is a catalog. The one
    routing rule of every triples-table write and read, so a relative path
    like ``out.parquet`` or ``local.d/kg`` is always a path (ADVICE r3: the
    catalog reader failed on it with a confusing TABLE_OR_VIEW_NOT_FOUND).
    Paths cost no catalog lookup."""
    return ("/" not in target and "." in target
            and target.split(".", 1)[0] in iceberg_catalogs(spark))


def subject_bucket(n_buckets: int = DEFAULT_BUCKETS):
    """The fallback path's explicit bucket column (deterministic, matches
    re-runs; Iceberg's hidden ``bucket(n, s)`` transform plays this role on
    the catalog path)."""
    return F.pmod(F.xxhash64("s"), F.lit(n_buckets)).cast("int")


def bucket_clustered(df: DataFrame,
                     n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """``df`` plus its ``subject_bucket`` column, clustered by it: the one
    layout both triple sinks (:func:`write_triples_table` and the KG
    pipeline's ``triples`` stage) hand to ``partitionBy("subject_bucket")``.

    The exchange passes the bucket through as the partition id
    (``repartitionById``): bucket ``b`` goes to write task ``b % T``, with
    ``T = min(n_buckets, spark.sql.shuffle.partitions)``. Each bucket is
    written by one task, as one file, and every task holds the same number
    of buckets (±1), so the tasks are as even as the subject hash. Hashing
    the bucket column instead collides: 32 buckets in 32 partitions fill
    only 18, one task carrying 3 buckets."""
    tasks = min(n_buckets,
                int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    return (df.withColumn("subject_bucket", subject_bucket(n_buckets))
            .repartitionById(tasks, "subject_bucket"))


def write_triples_table(
    df: DataFrame,
    target: str,
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
    fmt: str | None = None,
) -> None:
    """Write a (s,p,o,g) DataFrame as a subject-bucketed partitioned table.

    ``target``: an Iceberg catalog table name (``catalog.db.tbl``) or a
    filesystem path. ``fmt``: ``"iceberg"``, ``"parquet"``, or None =
    auto — iceberg iff the session has an Iceberg catalog AND ``target``
    names a table in it (no silent downgrade: asking for iceberg without a
    catalog raises).
    """
    missing = [c for c in TRIPLE_COLS if c not in df.columns]
    if missing:
        raise ValueError(f"triples table needs columns {TRIPLE_COLS}; "
                         f"missing {missing}")
    if fmt is None:
        fmt = ("iceberg" if is_catalog_table(df.sparkSession, target)
               else "parquet")
    elif fmt == "iceberg" and not iceberg_catalogs(df.sparkSession):
        raise RuntimeError(
            "fmt='iceberg' but no Iceberg catalog is configured "
            "(spark.sql.catalog.<name>); refusing to downgrade silently")

    if fmt == "iceberg":
        writer = (df.select(*TRIPLE_COLS)
                  .writeTo(target)
                  .using("iceberg")
                  .partitionedBy(F.bucket(n_buckets, F.col("s"))))
        if mode == "overwrite":
            writer.createOrReplace()
        elif mode == "append":
            writer.append()
        else:
            raise ValueError(f"unsupported mode {mode!r} for iceberg")
        return

    out = bucket_clustered(df.select(*TRIPLE_COLS), n_buckets)
    (out.write.mode(mode)
        .partitionBy("subject_bucket")
        .parquet(target))


def read_triples_table(spark: SparkSession, target: str,
                       fmt: str | None = None) -> DataFrame:
    """Read back a triples table written by :func:`write_triples_table`
    (either path), normalized to (s,p,o,g).

    ``fmt`` mirrors the writer: ``"iceberg"`` forces ``spark.read.table``,
    ``"parquet"`` forces a path read, None = auto
    (:func:`is_catalog_table`, the writer's rule)."""
    if fmt is None:
        fmt = "iceberg" if is_catalog_table(spark, target) else "parquet"
    df = (spark.read.table(target) if fmt == "iceberg"
          else spark.read.parquet(target))
    return df.select(*TRIPLE_COLS)

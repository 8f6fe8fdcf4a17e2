"""One bucket exchange for both triple sinks (``kg/table.bucket_clustered``):
the RML sink (``write_triples_table``) and the KG pipeline's ``triples``
stage, in both ``run_pipeline`` and ``run_pipeline_fused``.

* Layout: every ``subject_bucket=`` directory holds exactly one Parquet
  file, and every row sits in bucket ``pmod(xxhash64(s), n)``.
* Plan: the write is one exchange that passes ``subject_bucket`` through as
  the partition id, into ``min(n, spark.sql.shuffle.partitions)`` tasks —
  no hash exchange on the bucket (its placement collides) and no range
  partitioning, whose sampler ran the whole assembly an extra time.
* Placement: bucket ``b`` lands in write task ``b % tasks``, so the tasks
  share the buckets evenly.
* Jobs: a ``run_pipeline`` first build, a full resume and a recovery
  (final stage lost, four stages resumed) each run a pinned number of
  Spark jobs.
"""

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from jobcount import count_jobs
from pyrml_spark.kg.pipeline import (
    KGPipelineConfig,
    run_pipeline,
    run_pipeline_fused,
)
from pyrml_spark.kg.table import bucket_clustered, write_triples_table

N_BUCKETS = 8
CFG = KGPipelineConfig(n_docs=300, n_subject_buckets=N_BUCKETS)

# Spark jobs of run_pipeline over CFG under the test session's conf (8
# shuffle partitions, AQE on, so each shuffle stage of the triple assembly
# is its own job). Stage checkpoints are read with their recorded schemas
# and lineage comes from the Parquet footers, so a stage costs its write
# and nothing else; the recovery counts the write and the table metrics.
# Reading checkpoints with schema inference and counting rows with a
# per-partition aggregate job cost 37 / 6 / 19.
FIRST_BUILD_JOBS = 19
RESUME_JOBS = 0
RECOVERY_JOBS = 11


@pytest.fixture
def written(monkeypatch):
    """Record every DataFrame handed to ``DataFrame.write``."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    write = DataFrame.write

    def recording(self):
        frames.append(self)
        return write.fget(self)

    monkeypatch.setattr(DataFrame, "write", property(recording))
    return frames


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_bucket_exchange(df):
    plan = _plan(df)
    exchanges = re.findall(
        r"shufflepartitionidpassthrough\(direct_shuffle_partition_id\("
        r"subject_bucket#\d+\), (\d+)\)", plan)
    # N_BUCKETS tasks: the test session has as many shuffle partitions
    assert exchanges == [str(N_BUCKETS)], plan
    assert "hashpartitioning(subject_bucket" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def _assert_layout(spark, table_dir, n_buckets=N_BUCKETS):
    buckets = [d for d in os.listdir(table_dir)
               if d.startswith("subject_bucket=")]
    assert buckets
    for b in buckets:
        files = [f for f in os.listdir(os.path.join(table_dir, b))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
    back = spark.read.parquet(table_dir)
    assert back.count() > 0
    misplaced = back.filter(
        F.col("subject_bucket")
        != F.pmod(F.xxhash64("s"), F.lit(n_buckets)).cast("int"))
    assert misplaced.count() == 0


@pytest.mark.parametrize("n_buckets", [4, 32])
def test_bucket_goes_to_task_bucket_mod_tasks(spark, n_buckets):
    """Under the test session's 8 shuffle partitions: 4 buckets get a task
    each, 32 buckets share 8 tasks 4 apiece."""
    tasks = min(n_buckets,
                int(spark.conf.get("spark.sql.shuffle.partitions")))
    df = spark.range(2000).select(
        F.concat(F.lit("<http://ex.com/s/"), F.col("id"),
                 F.lit(">")).alias("s"))
    placed = {(r["pid"], r["subject_bucket"]) for r in
              bucket_clustered(df, n_buckets).select(
                  F.spark_partition_id().alias("pid"),
                  "subject_bucket").distinct().collect()}
    assert {b for _, b in placed} == set(range(n_buckets))
    assert all(pid == b % tasks for pid, b in placed), placed


def test_rml_sink_writes_one_file_per_bucket(spark, tmp_path, written):
    df = spark.range(500).select(
        F.concat(F.lit("<http://ex.com/s/"), F.col("id") % 97,
                 F.lit(">")).alias("s"),
        F.lit("<http://ex.com/p>").alias("p"),
        F.concat(F.lit('"v'), F.col("id"), F.lit('"')).alias("o"),
        F.lit(None).cast("string").alias("g"))
    target = str(tmp_path / "table")
    write_triples_table(df, target, n_buckets=N_BUCKETS)
    (out,) = written
    _assert_bucket_exchange(out)
    _assert_layout(spark, target)


def test_checkpointed_pipeline_bucket_exchange_and_recovery_jobs(
        spark, tmp_path, written):
    work = str(tmp_path / "work")
    _, jobs = count_jobs(spark, lambda: run_pipeline(spark, work, CFG))
    assert jobs == FIRST_BUILD_JOBS
    _assert_bucket_exchange(written[-1])
    table = os.path.join(work, "stages", "triples")
    _assert_layout(spark, table)
    rows = spark.read.parquet(table).count()

    _, jobs = count_jobs(spark, lambda: run_pipeline(spark, work, CFG))
    assert jobs == RESUME_JOBS

    shutil.rmtree(table)
    out, jobs = count_jobs(spark, lambda: run_pipeline(spark, work, CFG))
    assert jobs == RECOVERY_JOBS
    _assert_layout(spark, table)
    assert out.count() == rows


def test_fused_pipeline_bucket_exchange(spark, tmp_path, written):
    out_dir = str(tmp_path / "out")
    run_pipeline_fused(spark, out_dir, CFG)
    (out,) = written
    _assert_bucket_exchange(out)
    _assert_layout(spark, out_dir)

"""Spark job counting for tests: the jobs a call starts, read from the
status tracker through a job group (classic sessions only)."""

import time
import uuid


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``. The status tracker is
    fed by the listener bus, so wait until a later marker job is visible:
    events arrive in order, so fn's jobs are visible by then too."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup(group + "-marker", "job count")
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while (not tracker.getJobIdsForGroup(group + "-marker")
           and time.monotonic() < deadline):
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(group + "-marker")
    return out, len(tracker.getJobIdsForGroup(group))

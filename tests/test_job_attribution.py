"""Job attribution of the thread-pooled query harnesses: every Spark job a
harness runs from its pool threads carries the caller's job group."""

from __future__ import annotations

import uuid

from tabular_cdc_bootstrapper_spark import queries as q


def test_pooled_harness_jobs_keep_the_callers_job_group(spark, sf_dir):
    """``snapshot_branch_publish`` overlaps its snapshot and bucketed
    chains through ``_overlap``. Run under a fresh job group, it starts
    no job outside that group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"attribution-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        q.QUERIES["snapshot_branch_publish"](spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup(group)

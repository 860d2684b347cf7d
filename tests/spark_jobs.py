"""Count the Spark jobs a block of test code submits."""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag every job submitted from this thread; yields the ids seen."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))

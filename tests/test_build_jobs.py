"""Builders launch no jobs.

A registered builder returns a lazy plan: once the session knows its
tables' schemas (``catalog.read_parquet`` resolves each path once per
session), building it must not run a single Spark job.  The builders that
must run jobs to build — iterative loops, index lifecycles, streams and
writes — say so with ``register(..., eager=True)``; every other builder is
called here under a job group and must leave the group empty.

The count sees jobs of the calling thread only.  A stream's micro-batches
run under the stream's own job group, so the ``stream_*`` builders, which
run their streams to completion, are declared eager rather than measured.
"""

from __future__ import annotations

import pytest

from dataframework_spark.catalog import DEFAULT_SF_DIR, TABLES, load_table
from dataframework_spark.registry import all_queries

SF_DIR = DEFAULT_SF_DIR  # sf0.001
LAZY = [name for name, spec in all_queries().items() if not spec.eager]


@pytest.fixture(scope="module")
def warm_spark(spark):
    for name in TABLES:
        load_table(spark, SF_DIR, name)
    return spark


@pytest.mark.parametrize("name", LAZY)
def test_builder_launches_no_jobs(warm_spark, name):
    sc, group = warm_spark.sparkContext, f"dfx-build-jobs:{name}"
    sc.setJobGroup(group, "build-time job census")
    try:
        all_queries()[name].fn(warm_spark, SF_DIR)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], (
        f"{name} launched {len(jobs)} job(s) while building; build a lazy "
        "plan, or declare register(..., eager=True) if it must run jobs"
    )

from __future__ import annotations

import itertools

import pytest

from distributed_graph_database_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dgdb-tests")
    yield s


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


_job_tags = itertools.count()


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def group_jobs(spark, fn) -> tuple[object, list[int]]:
    """Run fn under a fresh job group → (its result, that group's job
    ids). Spark's status tracker per job group is the attribution
    perfbench/tracing.py uses, so work moved out of the caller's group
    would fake a lower count there too."""
    sc = spark.sparkContext
    tag = f"test-jobs-{next(_job_tags)}"
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        clear_job_group(sc)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(tag))

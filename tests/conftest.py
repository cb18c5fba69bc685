from __future__ import annotations

import os
import sys
import uuid

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from big_data__instagram_analysis_spark.session import get_spark

    s = get_spark("iga-tests")
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> (number of Spark jobs ``fn()`` ran, its result).

    Counted by job group: the status tracker keeps only the last
    ``spark.ui.retainedJobs`` (1000) jobs, so probing global job ids upward
    from 0 finds none late in a full test run."""
    sc = spark.sparkContext

    def count(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from big_data__instagram_analysis_spark.oracle import duck_connect

    con = duck_connect(sf_dir)
    yield con
    con.close()

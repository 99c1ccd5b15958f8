from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_dataframe_spark.context import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def jobs_of(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launched.  The DAG scheduler numbers
    jobs consecutively, so the count is the job-id window around the call
    (the census ``perfbench/census.py`` takes)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.numTotalJobs()
    fn()
    return dag.numTotalJobs() - first

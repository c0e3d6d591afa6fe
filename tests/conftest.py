import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from fabric_claims_spark.session import get_spark  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running scale-evidence tests"
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("fabric-claims-tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    """Smallest driver-generated corpus (fast enough for unit tests)."""
    return "/root/testdata/sf0.001"


class JobCount:
    """Spark jobs started inside a ``count_jobs`` block; ``n`` is set
    when the block exits."""

    n: int = -1


@pytest.fixture
def count_jobs(spark):
    """Job-budget helper: ``with count_jobs() as jobs: ...`` then
    ``jobs.n`` is the number of Spark jobs the block started from this
    thread. The block runs under its own job group, and the ids come
    from ``statusTracker().getJobIdsForGroup`` (as the benchmark's span
    tracer counts them) once the listener bus has drained."""
    sc = spark.sparkContext

    @contextmanager
    def counting():
        group = f"job-budget-{uuid.uuid4().hex}"
        jobs = JobCount()
        sc.setJobGroup(group, "job budget")
        try:
            yield jobs
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return counting

import pytest

from minivectordb_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="minivectordb-spark-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(group, fn) -> (fn(), jobs)``: run fn() under a named job
    group and count its Spark jobs via the public StatusTracker API.  AQE
    sub-jobs inherit the thread's job-group local property, so they are
    counted too — callers asserting more than zero should bound a ratio or
    a ceiling, not pin an absolute that drifts across Spark/AQE versions."""
    sc = spark.sparkContext

    def run(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

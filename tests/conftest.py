import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


def jobs_in(spark, fn):
    """(``fn()``, the ids of the Spark jobs it launched). Each call runs
    ``fn`` in a job group of its own, so jobs of earlier calls never
    count."""
    sc = spark.sparkContext
    group = "jobs-" + uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))

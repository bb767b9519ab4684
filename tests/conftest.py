import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")


@pytest.fixture(scope="session")
def spark():
    from bern_spark.session import get_spark

    s = get_spark("bern_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables():
    from bern_spark.datagen import generate

    return generate(n_convs=40)


@pytest.fixture(scope="session")
def dfs(spark, tables):
    from bern_spark.datagen import to_spark

    return to_spark(spark, tables)


@pytest.fixture(scope="session")
def dicts(dfs):
    return {k: dfs[k] for k in dfs if k.startswith(("dict_", "meta_"))}


@pytest.fixture
def job_group(spark):
    """``with job_group(name) as n:`` runs the block under a fresh Spark
    job group; afterwards ``n[0]`` is the number of jobs the group ran."""
    import contextlib

    sc = spark.sparkContext

    @contextlib.contextmanager
    def run(group: str):
        n: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield n
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            n.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    return run

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from graphiti_spark.session import get_spark

    s = get_spark(app_name="graphiti_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def cache_registry():
    """The cache_registry list for a standalone operator call; the caches it
    collects are unpersisted when the test ends."""
    cached: list = []
    yield cached
    for df in cached:
        df.unpersist()

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from jsonschema_spark.sources.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    session = get_spark(
        app_name="jsonschema_spark-tests", cores=cores, shuffle_partitions=8
    )
    yield session

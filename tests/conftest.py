from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from jsonschema_spark.sources.session import get_spark

    session = get_spark(app_name="jsonschema_spark-tests")
    yield session

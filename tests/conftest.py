import pytest


@pytest.fixture(scope="session")
def spark():
    """One local Spark session for every test module that asks for it."""
    from texel_spark.session import get_spark

    return get_spark(app_name="texel-tests", master="local[4]", shuffle_partitions=4)

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gdal_vfr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gdal_vfr_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture
def one_bucket(spark):
    """Run a test with spark.sql.shuffle.partitions=1: the partitioned
    joiners then hash every group into ONE refine bucket. The session
    setting is restored afterwards."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        yield
    finally:
        spark.conf.set(key, old)

from contextlib import contextmanager

import pytest

from deepref_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deepref_spark_tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@contextmanager
def driver_cap(spark, cap: int):
    """Run the block with ``deepref.driver.max_rows`` at ``cap``; 0 sends
    every size-gated operator down its distributed path."""
    spark.conf.set("deepref.driver.max_rows", str(cap))
    try:
        yield
    finally:
        spark.conf.unset("deepref.driver.max_rows")

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from gmall_flink_2021_spark.session import get_spark

    s = get_spark("gmall-spark-tests")
    yield s
    s.stop()

import os

import pytest

from tcga_query_project_spark.session import get_spark

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", os.path.join(TESTDATA, "sf0.01"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s

import os

import duckdb
import pytest

from iceberg_kafka_playgroud_spark.session import get_spark
from iceberg_kafka_playgroud_spark.verify import register_duckdb_views

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # cap the test JVM's heap well under the factory's 48g default: the
    # suite's live data fits in a few GB, but the uncapped heap grew
    # under allocation churn to 12-14 GB RSS, enough for a 15 GB host
    # to OOM-kill the run (an explicit env setting still wins)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    register_duckdb_views(con, SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

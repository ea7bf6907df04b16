import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from renkodf_spark.session import WORKER_DAEMON

    s = (
        SparkSession.builder.master("local[4]")
        .appName("renkodf-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.warehouse.dir", "/tmp/renkodf-spark-test-warehouse")
        .config(*WORKER_DAEMON)
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def reference_renko():
    """Import the reference implementation as a differential oracle
    (read-only; mplfinance isn't installed so stub it)."""
    import types
    import unittest.mock as mock

    if "mplfinance" not in sys.modules:
        sys.modules["mplfinance"] = mock.MagicMock(spec=types.ModuleType("mplfinance"))
    sys.path.insert(0, "/root/reference/src")
    import renkodf as ref

    return ref

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def write_source(src, name, data, columns=None, mtime=None):
    """Write ``data`` (a pandas frame, or rows with ``columns``) as the
    parquet file ``name`` of the watched stream source directory ``src``.

    The file is written under a hidden name and renamed into place: the
    file source must never list a half-written file (it would read it as
    an empty micro-batch). ``mtime`` (epoch seconds) orders the file
    among its siblings: the source takes files oldest first."""
    import pandas as pd

    if not isinstance(data, pd.DataFrame):
        data = pd.DataFrame(data, columns=columns)
    tmp = os.path.join(src, "." + name)
    data.to_parquet(tmp, index=False)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, os.path.join(src, name))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from renkodf_spark.session import ARROW_BATCH_BYTES, WORKER_DAEMON

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
        .config(*ARROW_BATCH_BYTES)
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def spark_conf(spark):
    """``with spark_conf({key: value, ...}, checkpoint_dir=path):`` sets
    session confs and the SparkContext checkpoint dir (None: no dir at
    all); restores them all on exit."""
    jsc = spark.sparkContext._jsc.sc()
    set_dir = getattr(jsc, "checkpointDir_$eq")  # takes an Option[String]

    @contextlib.contextmanager
    def scoped(confs, checkpoint_dir):
        old_confs = {k: spark.conf.get(k, None) for k in confs}
        old_dir = jsc.checkpointDir()
        for k, v in confs.items():
            spark.conf.set(k, v)
        if checkpoint_dir is None:
            set_dir(spark._jvm.scala.Option.empty())
        else:
            spark.sparkContext.setCheckpointDir(str(checkpoint_dir))
        try:
            yield
        finally:
            set_dir(old_dir)
            for k, v in old_confs.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return scoped


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def reference_renko():
    """Import the reference implementation as a differential oracle
    (read-only; mplfinance isn't installed so stub it). Every test that
    takes it skips, with the reason, where the reference is absent."""
    import types
    import unittest.mock as mock

    if "mplfinance" not in sys.modules:
        sys.modules["mplfinance"] = mock.MagicMock(spec=types.ModuleType("mplfinance"))
    sys.path.insert(0, "/root/reference/src")
    return pytest.importorskip("renkodf", reason="the reference renkodf package is absent")

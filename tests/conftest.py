import tempfile

import pytest


@pytest.fixture(scope="session", autouse=True)
def _tempdir_under_pytest(tmp_path_factory):
    """Point ``tempfile`` at pytest's base temp dir, so the index dirs the
    tests make with ``tempfile.mkdtemp`` are pruned with pytest's own."""
    before = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.getbasetemp())
    yield
    tempfile.tempdir = before


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder
         .master("local[4]")
         .appName("lucene_spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .getOrCreate())
    yield s
    s.stop()

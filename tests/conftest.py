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


def _many_parts(monkeypatch):
    """Every input byte fills a part: each merge and each term dictionary
    writes as many term-range (and doc-id range) parts as the default
    parallelism allows."""
    from lucene_spark.operators import merge as merge_mod
    monkeypatch.setattr(merge_mod, "_PART_BYTES", 1)


@pytest.fixture()
def many_parts(monkeypatch):
    _many_parts(monkeypatch)


@pytest.fixture(params=["one_part", "many_parts"])
def part_layout(request, monkeypatch):
    """Both layouts must write the same rows: one part file per directory
    (every rewrite below 64 MB of input postings) and many."""
    if request.param == "many_parts":
        _many_parts(monkeypatch)


@pytest.fixture()
def spark_jobs(spark):
    """``run(group, action)`` → ``action()``'s result and the ids of the
    Spark jobs it ran under job group ``group``. The status tracker learns
    of a job from Spark's asynchronous listener bus, so the bus is drained
    before the tracker is read: a job that just ended is never missed."""
    sc = spark.sparkContext

    def run(group: str, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run

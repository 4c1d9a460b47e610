"""Session helpers: tuned SparkSession factory, package shipping and the
executor-side worker bootstrap.

On a real cluster the package ships via ``spark-submit --py-files
lucene_spark.zip`` (the north star's deployment mode). For driver-side
programmatic use (notebooks, the test driver) :func:`ensure_shipped` zips
the package once and registers it with ``sc.addPyFile`` so executor Python
workers can import it regardless of their working directory. Once there,
:func:`bootstrap_worker` (run by the package import) trims the fixed cost
each Python UDF task pays before any engine code runs.
"""

from __future__ import annotations

import gc
import os
import sys
import tempfile
import zipfile
import zipimport

_SHIPPED: set[str] = set()


class _PinnedZipImporter(zipimport.zipimporter):
    """A zipimporter that reads its archive's directory once, when created.

    A plain one re-reads the whole central directory on every
    ``importlib.invalidate_caches()``, which PySpark's worker calls before
    each task (``pyspark/worker_util.py``, ``setup_spark_files``)."""

    def invalidate_caches(self):
        pass


def bootstrap_worker() -> None:
    """Stop paying Python-worker set-up on every Spark task.

    Does nothing outside a PySpark worker process (the driver, tests) and
    when run again. In a worker:

    * every zip finder in ``sys.path_importer_cache`` (``pyspark.zip``,
      py4j, the Spark jar, the shipped engine zip) and every finder made
      later keeps the directory it read when created. No archive on a
      worker's path changes while the worker lives: the first three are
      install files, :func:`ensure_shipped` writes the engine zip once per
      app, and workers die with their SparkContext. A zip added later gets
      a new finder, which reads its own directory; directory finders are
      still invalidated as before;
    * the libraries every engine UDF loads are imported and the import
      heap is frozen once, so the full ``gc.collect()`` the daemon runs
      after every task (``pyspark/daemon.py``) skips it. Freezing happens
      once per process, while the first engine UDF is unpickled and before
      its task reads a row, so task data is never frozen.
    """
    if "pyspark.worker" not in sys.modules \
            or _PinnedZipImporter in sys.path_hooks:
        return
    sys.path_hooks[:] = [_PinnedZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = _PinnedZipImporter
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    gc.freeze()


def write_package_zip(path: str) -> None:
    """Zip the lucene_spark package to ``path`` for ``--py-files``: every
    module and the data tables the analyzers load through
    ``importlib.resources`` (``functions/icu_data``, ``bm_rules``,
    ``stempel_data``, ``smartcn_data``), without bytecode caches."""
    import lucene_spark
    pkg_dir = os.path.dirname(os.path.abspath(lucene_spark.__file__))
    root = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, dirnames, files in os.walk(pkg_dir):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(files):
                if not fn.endswith(".pyc"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))


def ensure_shipped(spark) -> None:
    """Ship the lucene_spark package to executors (idempotent per app)."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    zpath = os.path.join(tempfile.gettempdir(),
                         f"lucene_spark_pyfiles_{os.getpid()}.zip")
    write_package_zip(zpath)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)


def get_session(master: str | None = None, app_name: str = "lucene_spark",
                shuffle_partitions: int | None = None, **extra_conf):
    """SparkSession with the configuration the engine expects: AQE on
    (runtime re-plan + skew handling), Arrow enabled for the vectorized
    UDF kernels."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (b.config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.execution.arrow.pyspark.enabled", "true")
          .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ensure_shipped(spark)
    return spark

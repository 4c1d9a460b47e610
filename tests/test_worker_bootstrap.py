"""Worker bootstrap: engine UDF workers pin their zip finders and freeze
the import heap once; the driver is left as it was."""

from __future__ import annotations

import gc
import sys
import uuid
import zipfile
import zipimport

from lucene_spark.operators.build import build_index
from lucene_spark.session import _PinnedZipImporter
from lucene_spark.sources.corpus import generate_corpus


def test_engine_workers_pin_zip_finders_and_freeze_imports(spark, tmp_path):
    driver_freeze = gc.get_freeze_count()
    corpus = generate_corpus(40, seed=71)
    snap = build_index(spark, spark.createDataFrame(corpus),
                       str(tmp_path / "idx"), num_segments=2)
    assert snap.field_stats["doc_count"] == 40

    # a zip shipped after the workers bootstrapped must still import
    mod = f"late_probe_{uuid.uuid4().hex[:8]}"
    zpath = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(zpath))

    def probe(batches):
        import gc
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import lucene_spark  # what unpickling an engine UDF does
        from lucene_spark.session import (_PinnedZipImporter,
                                          bootstrap_worker)
        for _ in batches:
            pass
        frozen = gc.get_freeze_count()
        bootstrap_worker()
        # frozen objects that die leave the count; a second freeze adds
        refrozen = gc.get_freeze_count() > frozen
        late = importlib.import_module(mod)
        finders = [f for f in sys.path_importer_cache.values()
                   if isinstance(f, zipimport.zipimporter)]
        yield pd.DataFrame({
            "finders": [len(finders)],
            "pinned": [sum(type(f) is _PinnedZipImporter
                           for f in finders)],
            "late_pinned": [any(type(f) is _PinnedZipImporter
                                and f.archive.endswith(f"{mod}.zip")
                                for f in finders)],
            "late_value": [late.VALUE],
            "frozen": [frozen],
            "refrozen": [refrozen],
            "zip_hook": [zipimport.zipimporter in sys.path_hooks],
            "pkg": [lucene_spark.__name__],
        })

    rows = (spark.range(1, numPartitions=1)
            .mapInPandas(probe, "finders long, pinned long, "
                                "late_pinned boolean, late_value long, "
                                "frozen long, refrozen boolean, "
                                "zip_hook boolean, pkg string")
            .collect())
    assert len(rows) == 1
    r = rows[0]
    assert r["finders"] > 0 and r["pinned"] == r["finders"]
    assert r["late_pinned"] and r["late_value"] == 42
    assert r["frozen"] > 0
    assert not r["refrozen"]          # idempotent: frozen once per process
    assert not r["zip_hook"]
    assert r["pkg"] == "lucene_spark"

    # the driver is untouched
    assert zipimport.zipimporter in sys.path_hooks
    assert _PinnedZipImporter not in sys.path_hooks
    assert "pyspark.worker" not in sys.modules
    assert gc.get_freeze_count() == driver_freeze

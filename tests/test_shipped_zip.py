"""The zip that ships the package to executors carries its data tables.

Executors import ``lucene_spark`` from that zip, where ``__file__`` is a
path inside the archive. Every analyzer that loads a table must find it
there, not next to a checkout that only the driver has.
"""

from __future__ import annotations

import subprocess
import sys
import zipfile

from lucene_spark.session import write_package_zip

_LOAD_EVERY_TABLE = """
import sys
sys.path.insert(0, sys.argv[1])
import lucene_spark
assert lucene_spark.__file__.startswith(sys.argv[1]), lucene_spark.__file__
from lucene_spark.functions import (beidermorse, icunorm, icutokenizer,
                                    sentbreak, smartcn, stempel)
for which in ("nfc", "nfkc", "nfkc_cf", "utr30"):
    icunorm._data(which)
icutokenizer._load()
icutokenizer._load_cjdict()
for engine in icutokenizer._SEA_ENGINES:
    engine.tables()
sentbreak._tables()
smartcn._core()
smartcn._bigram()
assert smartcn.smartcn_stop_set()
stempel.polish_stemmer()
assert stempel.polish_stop_set()
assert beidermorse.bm_encode("Schwarzenegger")
print("loaded")
"""


def test_package_zip_ships_the_data_tables(tmp_path):
    zpath = str(tmp_path / "lucene_spark.zip")
    write_package_zip(zpath)
    names = zipfile.ZipFile(zpath).namelist()
    assert "lucene_spark/functions/icu_data/utr30.tsv.gz" in names
    assert "lucene_spark/functions/bm_rules/gen_lang.txt" in names
    assert not [n for n in names if "__pycache__" in n or n.endswith(".pyc")]
    # -I: no PYTHONPATH, user site or cwd on the path, so the package can
    # only come from the zip
    out = subprocess.run(
        [sys.executable, "-I", "-c", _LOAD_EVERY_TABLE, zpath],
        cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "loaded"

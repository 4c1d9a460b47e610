"""Data tables shipped inside ``lucene_spark/functions``.

They are read through ``importlib.resources``, so they load the same way
from a checkout and from the zip that ships the package to executors
(``session.write_package_zip``), where ``__file__`` is a path inside the
archive rather than a directory.
"""

from __future__ import annotations

import io
from importlib.resources import files


def data_file(*parts: str) -> io.BytesIO:
    """``lucene_spark/functions/<parts...>`` as an in-memory binary
    stream. ``gzip.open`` takes it as is; wrap it in
    ``io.TextIOWrapper(..., encoding="utf-8")`` for a text file."""
    return io.BytesIO(files(__package__).joinpath(*parts).read_bytes())

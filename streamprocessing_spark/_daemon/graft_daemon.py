"""Spark's Python worker daemon, importing pyspark with cached bytecode.

Spark starts a worker daemon with ``$SPARK_HOME/python/lib/pyspark.zip``
and ``py4j-*.zip`` first on ``sys.path``. The zip holds sources only, so
every daemon launch compiles pyspark from source: ``import
pyspark.worker`` takes ~0.8 s from the zip against ~0.2 s from an
installed pyspark whose bytecode is cached. Each new session's first
Python task waits for that.

This module moves those zips to the end of ``sys.path`` when an installed
pyspark outside them is the same build, then runs the stock
``pyspark.daemon.manager()``. Spark runs it through
``spark.python.daemon.module`` (see ``session.worker_daemon_confs``).

It lives in a directory of its own, with no ``__init__.py``, so putting
that directory on the workers' ``PYTHONPATH`` exposes this one module and
never the ``streamprocessing_spark`` package. It uses nothing but the
standard library until the path is settled.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def _is_spark_zip(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith(".zip"))


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _same_build(pyspark_zip: str, installed_pkg: str) -> bool:
    """Whether ``pyspark_zip`` holds the installed package at ``installed_pkg``:
    the zip ships inside it (a pip install), or the two versions match."""
    pkg = os.path.realpath(installed_pkg)
    if os.path.realpath(pyspark_zip).startswith(pkg + os.sep):
        return True
    try:
        with zipfile.ZipFile(pyspark_zip) as z:
            zipped = _version(z.read("pyspark/version.py").decode("utf-8"))
        with open(os.path.join(pkg, "version.py"), encoding="utf-8") as f:
            installed = _version(f.read())
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return False
    return zipped is not None and zipped == installed


def demote_spark_zips(path: list[str]) -> list[str]:
    """``path`` with Spark's pyspark and py4j zips moved to its end, when
    the pyspark it would import without them is the zip's own build;
    otherwise ``path`` itself, unchanged."""
    zips = [p for p in path if _is_spark_zip(p)]
    pyspark_zip = next((p for p in zips if os.path.basename(p) == "pyspark.zip"), None)
    if pyspark_zip is None:
        return path
    rest = [p for p in path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return path
    if not _same_build(pyspark_zip, spec.submodule_search_locations[0]):
        return path
    return rest + zips


if __name__ == "__main__":
    sys.path[:] = demote_spark_zips(sys.path)
    from pyspark import daemon

    daemon.manager()

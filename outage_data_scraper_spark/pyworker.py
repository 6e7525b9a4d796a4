"""Python worker daemon that imports the installed pyspark, not the zip.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` at the head of every
Python worker's path. The zip ships no bytecode, so each daemon and
worker compiles the pyspark modules it imports from source, and the
``importlib.invalidate_caches()`` that ``pyspark.worker_util`` makes on
every task has each zipimporter re-read its archive's directory: a
pandas-UDF worker holds 16, twelve of them (one per package dir) on the
zip's 1,328 entries.

When a non-zip pyspark of the zip's own version (the JVM's) is
importable, this module drops the zip from ``sys.path`` and
``sys.path_importer_cache`` before anything imports pyspark; otherwise
the path is left as Spark built it. With the zip it drops every jar on
the path that holds no Python source: Spark appends its core jar for
builds that pack pyspark inside it; when it holds none, that jar
imports nothing, yet its two zipimporters re-read its 5,359-entry
directory on every task too. Then it runs Spark's own daemon.
``session.get_spark`` selects it through ``spark.python.daemon.module``:

    python -m outage_data_scraper_spark.pyworker [worker_module]
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

ZIP_NAME = "pyspark.zip"
_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _zip_version(zip_path: str) -> str | None:
    """``__version__`` from ``pyspark/version.py`` inside the zip."""
    try:
        with zipfile.ZipFile(zip_path) as zf:
            return _version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def installed_version(path: list[str]) -> str | None:
    """``__version__`` of the pyspark that ``path`` would import, if that
    copy is a plain directory (a zipped copy reads as None)."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def _holds_python(archive: str) -> bool:
    """Whether the zip/jar holds any ``.py`` file (unreadable: assume so)."""
    try:
        with zipfile.ZipFile(archive) as zf:
            return any(n.endswith(".py") for n in zf.namelist())
    except (OSError, zipfile.BadZipFile):
        return True


def prefer_installed_pyspark(
    path: list[str] | None = None, importer_cache: dict | None = None
) -> bool:
    """Drop the pyspark.zip entries and the jars without Python source
    from ``path`` (default ``sys.path``), and their ``importer_cache``
    entries, when the rest of the path imports a non-zip pyspark of the
    zip's version. Returns whether it did."""
    path = sys.path if path is None else path
    importer_cache = sys.path_importer_cache if importer_cache is None else importer_cache
    zips = [p for p in path if os.path.basename(p) == ZIP_NAME]
    if not zips:
        return False
    rest = [p for p in path if p not in zips]
    want = _zip_version(zips[0])
    if want is None or installed_version(rest) != want:
        return False
    drop = zips + [p for p in rest if p.endswith(".jar") and not _holds_python(p)]
    path[:] = [p for p in path if p not in drop]
    for key in [k for k in importer_cache
                if any(k == d or k.startswith(d + os.sep) for d in drop)]:
        del importer_cache[key]
    return True


if __name__ == "__main__":
    prefer_installed_pyspark()
    from pyspark.daemon import manager

    manager()

"""Python worker daemon: ``pyspark.daemon`` behind one ``sys.path`` fix.

Spark starts its Python worker daemon with its own archives at the head
of ``PYTHONPATH``: ``pyspark.zip``, ``py4j-*-src.zip`` and the
spark-core jar, all ahead of site-packages.  The forked workers then
import PySpark from the zip, and every Python task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util
.setup_spark_files``).  On Python 3.11 that call makes each cached
``zipimporter`` re-read its archive's central directory: with 16 such
importers, 0.12-0.35 s per task on a 4-vCPU host, before any
user code runs.

When the ``pyspark`` installed outside those archives has the same
``__version__`` as the one in ``pyspark.zip``, and ``py4j`` is installed
outside them too, this module drops Spark's archives from ``sys.path``
and their importers from ``sys.path_importer_cache``, so the workers
import the installed package.  Otherwise ``sys.path`` stays as it is.
Either way it then runs ``pyspark.daemon`` unchanged, with ``sys.argv``
kept, so ``spark.python.worker.module`` still applies.

``session.get_spark`` sets it as ``spark.python.daemon.module`` for a
local master.  It imports nothing from PySpark before the fix.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from collections.abc import Sequence
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def is_spark_archive(entry: str) -> bool:
    """``pyspark.zip``, ``py4j-*-src.zip`` or a jar: the entries Spark
    itself puts on a worker's path.  User ``--py-files`` zips are not."""
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or name.endswith(".jar")
    )


def worker_path(
    path: Sequence[str],
    installed_pyspark: str | None,
    archive_pyspark: str | None,
    installed_py4j: bool,
) -> list[str]:
    """``path`` without Spark's archives when the installed pyspark's
    version (None: not installed) equals the archive's and py4j is
    installed; otherwise ``path`` unchanged."""
    if (
        installed_pyspark is None
        or installed_pyspark != archive_pyspark
        or not installed_py4j
    ):
        return list(path)
    return [p for p in path if not is_spark_archive(p)]


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _archive_version(path: Sequence[str]) -> str | None:
    for entry in path:
        if os.path.basename(entry) == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as z:
                    return _version(z.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                return None
    return None


def _installed_version(outside: list[str]) -> str | None:
    spec = PathFinder.find_spec("pyspark", outside)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            return _version(f.read())
    except OSError:  # e.g. a pyspark inside a user zip
        return None


def fix_sys_path() -> None:
    """Apply :func:`worker_path` to this process's ``sys.path`` and drop
    the importers of the removed entries (and of packages inside them):
    ``invalidate_caches`` walks ``sys.path_importer_cache``, not
    ``sys.path``, and ``python -m`` has already filled it."""
    outside = [p for p in sys.path if not is_spark_archive(p)]
    path = worker_path(
        sys.path,
        _installed_version(outside),
        _archive_version(sys.path),
        PathFinder.find_spec("py4j", outside) is not None,
    )
    dropped = [p for p in sys.path if p not in path]
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    sys.path[:] = path


if __name__ == "__main__":
    fix_sys_path()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

Spark starts each Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar first on ``sys.path``, and every
Python task calls ``importlib.invalidate_caches()`` in
``worker_util.setup_spark_files``. On Python 3.11 that call makes every
cached ``zipimporter`` re-read its whole archive directory: pyspark.zip
(1,328 entries) once for itself and once per imported subpackage, the
jar (5,359 entries, no ``.py`` file) twice — 0.22 s of CPU per task.

When the same pyspark and py4j are installed unpacked (pip), this module
drops those archives from ``sys.path`` and their importers from
``sys.path_importer_cache``, then runs ``pyspark.daemon`` as ``__main__``.
The forked workers inherit the trimmed path, import pyspark from the
unpacked tree and have no ``zipimporter`` left to refresh. When the
versions differ, or nothing is unpacked, the path stays as Spark built it.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile

__all__ = ["drop_spark_archives"]

_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")
_ZIPPED = ("pyspark", "py4j")


def _zipped_package(entry: str) -> str | None:
    """``pyspark`` / ``py4j`` for Spark's ``pyspark*.zip`` / ``py4j*.zip``."""
    name = os.path.basename(entry)
    return next(
        (p for p in _ZIPPED if name.startswith(p) and name.endswith(".zip")), None
    )


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zip_version(archive: str, package: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read(f"{package}/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _unpacked_version(package: str, path: list[str]) -> str | None:
    """``__version__`` of the first unpacked ``package`` on ``path`` (the
    one an import would load)."""
    for entry in path:
        root = os.path.join(entry or os.curdir, package)
        if os.path.isfile(os.path.join(root, "__init__.py")):
            try:
                with open(os.path.join(root, "version.py")) as f:
                    return _version(f.read())
            except OSError:
                return None
    return None


def drop_spark_archives(path: list[str], cache: dict) -> None:
    """Remove Spark's ``pyspark*.zip``, ``py4j*.zip`` and ``*.jar`` entries
    from ``path`` and their (sub)path entries from ``cache``, in place —
    only when, without them, ``path`` finds an unpacked pyspark and py4j
    of the same ``__version__`` as the zips hold."""
    zips = {e: p for e in path if (p := _zipped_package(e))}
    archives = [*zips, *(e for e in path if e.endswith(".jar"))]
    kept = [e for e in path if e not in archives]
    versions = [(_zip_version(e, p), _unpacked_version(p, kept)) for e, p in zips.items()]
    if "pyspark" not in zips.values() or any(z is None or z != u for z, u in versions):
        return
    path[:] = kept
    for key in [k for k in cache if any(k == a or k.startswith(a + os.sep) for a in archives)]:
        del cache[key]


if __name__ == "__main__":
    drop_spark_archives(sys.path, sys.path_importer_cache)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

"""Python worker daemon: trims Spark's archives off the workers' import
path, then runs ``pyspark.daemon`` unchanged.

Spark puts three archives on every Python worker's ``sys.path``
(``PythonUtils.sparkPythonPath``): spark-core's jar (5k entries, no
Python), ``pyspark.zip`` (``.py`` only) and ``py4j-*-src.zip``. pyspark
calls ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``), and every ``zipimporter`` in
``sys.path_importer_cache`` re-reads its archive's central directory on
that call: most of a trivial task's wall, and the worker's largest
transient allocation.

``session.get_spark`` sets this module as ``spark.python.daemon.module``.
It runs once per executor when the daemon starts; forked workers inherit
the trimmed path. Two rules, both read from the data:

- an archive that holds no ``.py``/``.pyc`` file is dropped;
- an archive of packages is dropped only when, for each of its top-level
  packages, the directory copy that imports once it is gone has a
  ``version.py`` byte-identical to the archive's (pyspark and py4j of the
  JVM's exact release). Any mismatch or read error keeps the archive.

The dropped archives' keys, sub-keys like ``<zip>/pyspark`` included, leave
``sys.path_importer_cache`` too: off ``sys.path`` alone, their importers
would still re-read on every task. Once ``pyspark`` is imported this
changes nothing, since its modules already come from wherever they came.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile

_ARCHIVES = (".zip", ".jar")


def _installed_copy(pkg: str, dirs: list[str]) -> str | None:
    """The first directory package ``pkg`` on ``dirs``: what imports once
    the archives are gone."""
    for d in dirs:
        if os.path.isfile(os.path.join(d, pkg, "__init__.py")):
            return os.path.join(d, pkg)
    return None


def _droppable(archive: str, dirs: list[str]) -> bool:
    try:
        with zipfile.ZipFile(archive) as zf:
            py = [n for n in zf.namelist() if n.endswith((".py", ".pyc"))]
            # a top-level module ("mod.py") has no directory copy: kept
            for pkg in {n.split("/", 1)[0] for n in py}:
                copy = _installed_copy(pkg, dirs)
                if copy is None:
                    return False
                with open(os.path.join(copy, "version.py"), "rb") as f:
                    if f.read() != zf.read(f"{pkg}/version.py"):
                        return False
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    return True  # no Python at all, or every package duplicated exactly


def trim_import_path() -> list[str]:
    """Drop the redundant archives from ``sys.path`` and their importers
    from ``sys.path_importer_cache``; returns the dropped archives."""
    if "pyspark" in sys.modules:
        return []
    archives = [p for p in sys.path if p.lower().endswith(_ARCHIVES)]
    dirs = [p for p in sys.path if p not in archives]
    dropped = [a for a in archives if _droppable(a, dirs)]
    if not dropped:
        return []
    sys.path[:] = [p for p in sys.path if p not in dropped]
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]
    return dropped


if __name__ == "__main__":
    trim_import_path()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

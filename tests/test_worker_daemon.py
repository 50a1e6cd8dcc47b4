"""The worker daemon's import-path trim (``geocoderpl_spark.pydaemon``):
the drop rule on a synthetic ``sys.path``, what a real worker imports, and
a driver started outside the repo."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from geocoderpl_spark.pydaemon import trim_import_path

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b'__version__: str = "9.9.9"\n'


def _zip(path, entries: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in entries.items():
            zf.writestr(name, data)
    return str(path)


@pytest.fixture
def layout(tmp_path, monkeypatch):
    """An installed ``pyspark`` directory package plus a jar without Python;
    ``install(path, cache)`` makes them the process's import state."""
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_bytes(b"")
    (site / "pyspark" / "version.py").write_bytes(VERSION)
    jar = _zip(tmp_path / "core.jar", {"META-INF/MANIFEST.MF": b"", "org/a.class": b"\xca"})

    def install(path: list[str], cache: dict) -> None:
        monkeypatch.setattr(sys, "path", path)
        monkeypatch.setattr(sys, "path_importer_cache", cache)
        monkeypatch.delitem(sys.modules, "pyspark", raising=False)

    return tmp_path, str(site), jar, install


def _cached(tmp_path) -> dict:
    """The importer-cache entries under ``tmp_path`` (zipfile itself may
    import an ``encodings`` codec during the trim)."""
    return {k: v for k, v in sys.path_importer_cache.items() if k.startswith(str(tmp_path))}


def _pyspark_zip(tmp_path, version: bytes) -> str:
    return _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": b"", "pyspark/version.py": version,
    })


def test_jar_without_python_dropped_with_subkeys(layout):
    tmp_path, site, jar, install = layout
    install([site, jar], {site: None, jar: 1, jar + "/org": 2, jar + "/org/x": 3})
    assert trim_import_path() == [jar]
    assert sys.path == [site]
    assert _cached(tmp_path) == {site: None}


def test_matching_pyspark_zip_dropped(layout):
    tmp_path, site, jar, install = layout
    zp = _pyspark_zip(tmp_path, VERSION)
    install([zp, jar, site], {zp: 1, zp + "/pyspark": 2, jar: 3, site: None})
    assert sorted(trim_import_path()) == sorted([zp, jar])
    assert sys.path == [site]
    assert _cached(tmp_path) == {site: None}


@pytest.mark.parametrize("case", ["mismatch", "unreadable", "not_installed", "module"])
def test_unproven_zip_kept(layout, case):
    """A zip is kept unless every package in it has a byte-identical
    installed ``version.py``: another release, a corrupt archive, no
    installed copy, or a top-level module all keep it."""
    tmp_path, site, jar, install = layout
    if case == "mismatch":
        zp = _pyspark_zip(tmp_path, b'__version__: str = "9.9.8"\n')
    elif case == "unreadable":
        zp = str(tmp_path / "pyspark.zip")
        with open(zp, "wb") as f:
            f.write(b"not a zip")
    elif case == "not_installed":
        zp = _zip(tmp_path / "py4j-src.zip", {"py4j/__init__.py": b"", "py4j/version.py": b""})
    else:
        zp = _zip(tmp_path / "mod.zip", {"mod.py": b""})
    install([zp, jar, site], {zp: 1, zp + "/pyspark": 2, jar: 3})
    assert trim_import_path() == [jar]
    assert sys.path == [zp, site]
    assert _cached(tmp_path) == {zp: 1, zp + "/pyspark": 2}


def test_nothing_changes_once_pyspark_imported(layout, monkeypatch):
    tmp_path, site, jar, install = layout
    zp = _pyspark_zip(tmp_path, VERSION)
    install([zp, jar, site], {zp: 1, jar: 2})
    monkeypatch.setitem(sys.modules, "pyspark", object())
    assert trim_import_path() == []
    assert sys.path == [zp, jar, site]
    assert _cached(tmp_path) == {zp: 1, jar: 2}


def test_worker_imports_pyspark_outside_archives(spark):
    """A Python task's worker imports the installed pyspark, not the copy
    in Spark's ``pyspark.zip``, and holds no importer for spark-core's jar
    or ``pyspark.zip``: ``invalidate_caches()`` at every task start has
    no archive directory left to re-read."""
    import pyarrow as pa

    def report(batches):
        import sys as _sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        archives = sorted({
            v.archive for v in _sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        })
        info = {"file": pyspark.__file__, "archives": archives}
        yield pa.RecordBatch.from_pydict({"info": [json.dumps(info)]})

    rows = spark.range(1).repartition(1).mapInArrow(report, "info string").collect()
    info = json.loads(rows[0]["info"])
    assert ".zip" not in info["file"] and ".jar" not in info["file"], info
    bad = [a for a in info["archives"] if a.endswith((".jar", "pyspark.zip"))]
    assert not bad, info


def test_driver_outside_repo_without_pythonpath(tmp_path):
    """A driver whose cwd is not the repo and whose environment has no
    PYTHONPATH still runs Python tasks: executors get the package root
    through ``spark.executorEnv.PYTHONPATH`` in every master mode."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from geocoderpl_spark.session import get_spark
        import pyarrow as pa

        def plus_one(batches):
            for b in batches:
                yield pa.RecordBatch.from_pydict({{"id": [v + 1 for v in b.column(0).to_pylist()]}})

        spark = get_spark(app_name="outside", cpus=1, shuffle_partitions=1)
        print("RESULT", spark.range(3).mapInArrow(plus_one, "id long").collect()[-1]["id"])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "RESULT 3" in out.stdout, out.stderr[-3000:]

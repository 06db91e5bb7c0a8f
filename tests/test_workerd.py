"""The Python worker daemon (demo_segmenter_spark/workerd.py): workers of
a get_spark session start with the JVM-added archives off sys.path, and
the path filter falls back to the stock path when it must."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pyspark

from demo_segmenter_spark.workerd import drop_jvm_archives


def test_session_workers_run_without_jvm_archives(spark):
    def _worker_view(_):  # nested: pickled by value, test modules are not on the worker path
        import sys

        import pyspark

        yield (
            list(sys.path),
            [type(v).__name__ for v in sys.path_importer_cache.values()],
            pyspark.__version__,
        )

    path, finders, version = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(_worker_view).collect()[0]
    )
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    assert not [p for p in path if p.endswith(".jar") or p.startswith(lib)], path
    assert "zipimporter" not in finders
    assert version == spark.version


def _fake_archives(tmp_path) -> list[str]:
    """A SPARK_HOME layout: pyspark.zip and the py4j zip under
    python/lib, plus a jar, each holding only its package stub."""
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    (tmp_path / "jars").mkdir()
    archives = []
    for rel, pkg in (
        ("python/lib/pyspark.zip", "pyspark"),
        ("python/lib/py4j-0.10.9.9-src.zip", "py4j"),
        ("jars/spark-core.jar", "org"),
    ):
        with zipfile.ZipFile(tmp_path / rel, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
        archives.append(str(tmp_path / rel))
    return archives


def _install_path(monkeypatch, tmp_path, rest: list[str]) -> list[str]:
    archives = _fake_archives(tmp_path)
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))
    monkeypatch.setattr(sys, "path", [*archives, *rest])
    for p in archives:
        monkeypatch.setitem(sys.path_importer_cache, p, zipimport.zipimporter(p))
    return archives


def test_filter_keeps_path_when_pyspark_is_only_in_the_archive(monkeypatch, tmp_path):
    stdlib = os.path.dirname(os.__file__)
    archives = _install_path(monkeypatch, tmp_path, [stdlib])
    before = list(sys.path)
    drop_jvm_archives()
    assert sys.path == before
    assert all(p in sys.path_importer_cache for p in archives)


def test_filter_drops_archives_when_installed_pyspark_is_found(monkeypatch, tmp_path):
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    user_zip = str(tmp_path / "deps.zip")
    archives = _install_path(monkeypatch, tmp_path, [user_zip, site])
    drop_jvm_archives()
    assert sys.path == [user_zip, site]
    assert not [p for p in archives if p in sys.path_importer_cache]

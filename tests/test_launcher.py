"""The Python launcher (demo_segmenter_spark/launcher.sh): every Python
process of a get_spark session (worker daemon, data-source planners,
streaming source runner) starts with the package root first on its
path and the JVM-added archives off it, from any cwd; get_spark keeps
the stock pythonExec when the driver cannot find pyspark without the
archives."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pyspark

from demo_segmenter_spark.session import LAUNCHER, resolves_without_archives

ROOT = os.path.dirname(os.path.dirname(LAUNCHER))


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


def _archive_probe():
    """A one-batch Python streaming source whose offset carries the
    count of JVM archives on the source runner's ``sys.path``. Nested
    so it is pickled by value."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

    class Reader(DataSourceStreamReader):
        def initialOffset(self):
            return {"n": 0, "archives": 0}

        def latestOffset(self):
            import os
            import sys

            lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
            archives = sum(p.endswith(".jar") or p.startswith(lib) for p in sys.path)
            return {"n": 1, "archives": archives}

        def partitions(self, start, end):
            return [InputPartition(0)] if end["n"] > start["n"] else []

        def read(self, partition):
            yield (1,)

    class ArchiveProbe(DataSource):
        @classmethod
        def name(cls):
            return "archive_probe"

        def schema(self):
            return "n int"

        def streamReader(self, schema):
            return Reader()

    return ArchiveProbe


def test_source_runner_runs_without_jvm_archives(spark, tmp_path):
    spark.dataSource.register(_archive_probe())
    query = (
        spark.readStream.format("archive_probe").load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    assert not query.isActive
    # pyspark reports a Python source's offset as str() of its dict
    end = ast.literal_eval(query.lastProgress["sources"][0]["endOffset"])
    assert end["archives"] == 0


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


def _launch(tmp_path, path: list[str], code: str) -> dict:
    """Run ``code`` through the launcher from ``tmp_path`` (also the
    fake SPARK_HOME) with ``path`` as PYTHONPATH; ``code`` prints JSON."""
    env = {
        **os.environ,
        "SPARK_HOME": str(tmp_path),
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
    }
    out = subprocess.run(
        [LAUNCHER, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout)


def test_filter_keeps_path_when_pyspark_is_only_in_the_archive(monkeypatch, tmp_path):
    stdlib = os.path.dirname(os.__file__)
    archives = _install_path(monkeypatch, tmp_path, [stdlib])
    before = list(sys.path)
    assert not resolves_without_archives()
    assert sys.path == before
    assert all(p in sys.path_importer_cache for p in archives)


def test_filter_drops_archives_when_installed_pyspark_is_found(monkeypatch, tmp_path):
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    user_zip = str(tmp_path / "deps.zip")
    archives = _install_path(monkeypatch, tmp_path, [user_zip, site])
    assert resolves_without_archives()
    child = _launch(
        tmp_path, list(sys.path),
        "import json, os, sys; print(json.dumps("
        "{'path': os.environ['PYTHONPATH'], 'cached': list(sys.path_importer_cache)}))",
    )
    assert child["path"] == os.pathsep.join([ROOT, user_zip, site])
    assert not [p for p in archives if p in child["cached"]]


def test_launcher_imports_the_package_from_a_foreign_cwd(tmp_path):
    assert os.access(LAUNCHER, os.X_OK), "launcher.sh lost its exec bit"
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    path = _launch(
        tmp_path, [*_fake_archives(tmp_path), site],
        "import json, sys, demo_segmenter_spark; print(json.dumps(sys.path))",
    )
    lib = str(tmp_path / "python" / "lib")
    assert ROOT in path
    assert not [p for p in path if p.endswith(".jar") or p.startswith(lib)], path

"""The Python worker daemon (`pydaemon`): which `sys.path` entries it drops,
what a worker of the test session imports PySpark from, and what the
daemon module itself imports."""

from __future__ import annotations

import ast
import os
import sys
import zipfile

import pandas as pd

from ndl_core_data_pipeline_spark import pydaemon

SPARK_VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path, members: dict[str, bytes]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _package(root, name: str, files: dict[str, bytes]) -> None:
    os.makedirs(os.path.join(root, name), exist_ok=True)
    for fname, data in {"__init__.py": b"", **files}.items():
        with open(os.path.join(root, name, fname), "wb") as fh:
            fh.write(data)


def _layout(tmp_path, zipped_version=SPARK_VERSION, installed=("pyspark", "py4j")):
    """A worker's path as Spark builds it: the task's userFiles directory,
    Spark's pyspark zip, py4j zip and core jar, a user zip, site-packages."""
    lib = tmp_path / "spark" / "python" / "lib"
    archives = [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": zipped_version}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""}),
        _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": b""}),
    ]
    user_files = tmp_path / "spark-1" / "userFiles-0d6f"
    user_files.mkdir(parents=True)
    deps = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": b""})
    site = tmp_path / "site-packages"
    site.mkdir()
    if "pyspark" in installed:
        _package(site, "pyspark", {"version.py": SPARK_VERSION})
    if "py4j" in installed:
        _package(site, "py4j", {})
    path = [str(user_files), *archives, deps, str(site)]
    return path, archives


def test_drops_spark_archives_when_versions_match(tmp_path):
    path, archives = _layout(tmp_path)
    kept = pydaemon.clean_path(path)
    assert kept == [p for p in path if p not in archives]
    assert any(os.path.basename(p) == "deps.zip" for p in kept)
    assert any(os.path.basename(p).startswith("userFiles-") for p in kept)


def test_keeps_path_when_versions_differ(tmp_path):
    path, _ = _layout(tmp_path, zipped_version=b'__version__: str = "4.1.1"\n')
    assert pydaemon.clean_path(path) == path


def test_keeps_path_when_pyspark_is_only_in_the_zip(tmp_path):
    path, _ = _layout(tmp_path, installed=("py4j",))
    assert pydaemon.clean_path(path) == path


def test_keeps_path_when_py4j_is_only_in_the_zip(tmp_path):
    path, _ = _layout(tmp_path, installed=("pyspark",))
    assert pydaemon.clean_path(path) == path


def test_spark_archive_names():
    assert pydaemon.spark_archive("/opt/spark/python/lib/pyspark.zip")
    assert pydaemon.spark_archive("/opt/spark/python/lib/py4j-0.10.9.9-src.zip")
    assert pydaemon.spark_archive("/opt/spark/jars/spark-core_2.13-4.1.2.jar")
    assert not pydaemon.spark_archive("/work/deps.zip")
    assert not pydaemon.spark_archive("/usr/lib/python311.zip")
    assert not pydaemon.spark_archive("/tmp/spark-1/userFiles-0d6f")


def test_session_workers_import_installed_pyspark(spark):
    """A worker of the test session imports PySpark from a directory and
    holds no zip importer for Spark's archives, so no task re-reads them."""

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        zips = [
            key
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter) and pydaemon.spark_archive(finder.archive)
        ]
        yield pd.DataFrame({"origin": [pyspark.__file__], "spark_zips": [len(zips)]})

    rows = spark.range(2).repartition(2).mapInPandas(probe, "origin STRING, spark_zips INT").collect()
    assert rows
    for r in rows:
        assert os.path.isfile(r["origin"]), r["origin"]
        assert r["spark_zips"] == 0


def test_daemon_imports_only_stdlib_and_pyspark_daemon():
    """Every worker inherits what the daemon module loads."""
    with open(pydaemon.__file__, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, "relative import in the daemon module"
            names.add(node.module)
    extra = {n for n in names if n.split(".")[0] not in sys.stdlib_module_names}
    assert extra == {"pyspark.daemon"}

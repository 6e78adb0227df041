"""The Python-worker daemon launcher: where get_spark selects it, when it
drops the pyspark archives from the workers' import path, and what a
worker then sees."""

from __future__ import annotations

import os
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gh_crawler_spark import session
from gh_crawler_spark._pydaemon import without_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAUNCHER = "gh_crawler_spark._pydaemon"


def test_workers_import_pyspark_from_its_directory(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == LAUNCHER

    @F.pandas_udf("string")
    def worker_imports(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        return s.map(lambda _: f"{pyspark.__file__}|{zips}")

    rows = spark.range(0, 8, 1, 4).select(worker_imports(F.col("id").cast("string"))).collect()
    for (report,) in rows:
        origin, zips = report.split("|")
        assert ".zip" not in origin and os.path.isdir(os.path.dirname(origin))
        assert zips == "0"


def test_launcher_only_for_local_master_and_directory_engine(monkeypatch, tmp_path):
    monkeypatch.chdir(REPO)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert session.python_daemon_module(master) == LAUNCHER
    for master in ("local-cluster[2,1,1024]", "yarn", "spark://host:7077"):
        assert session.python_daemon_module(master) is None
    # the engine imported from a --py-files archive: the stock daemon
    zipped = os.path.join(str(tmp_path), "engine.zip", "gh_crawler_spark", "session.py")
    monkeypatch.setattr(session, "__file__", zipped)
    assert session.python_daemon_module("local[4]") is None
    monkeypatch.undo()
    # a directory engine the daemon cannot import: neither the working
    # directory nor on PYTHONPATH
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session.python_daemon_module("local[4]") is None
    monkeypatch.setenv("PYTHONPATH", REPO)
    assert session.python_daemon_module("local[4]") == LAUNCHER


def _pyspark_dir(root, version: str) -> str:
    pkg = root / "site" / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root / "site")


def _archive(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


@pytest.mark.parametrize("dir_version, kept", [("4.1.2", False), ("4.0.0", True)])
def test_archives_dropped_only_for_matching_pyspark_dir(tmp_path, dir_version, kept):
    site = _pyspark_dir(tmp_path, dir_version)
    pyspark_zip = _archive(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n",
    })
    jar = _archive(tmp_path / "spark-core.jar", {"org/apache/spark/SparkContext.class": ""})
    path = [str(tmp_path), pyspark_zip, jar, site]
    assert without_archives(path) == (path if kept else [str(tmp_path), site])


def test_archive_with_a_package_missing_elsewhere_is_kept(tmp_path):
    site = _pyspark_dir(tmp_path, "4.1.2")
    deps = _archive(tmp_path / "deps.zip", {"onlyhere/__init__.py": ""})
    not_a_zip = tmp_path / "notes.txt"
    not_a_zip.write_text("not an archive")
    assert without_archives([deps, site]) == [deps, site]
    assert without_archives([str(not_a_zip), site]) == [str(not_a_zip), site]

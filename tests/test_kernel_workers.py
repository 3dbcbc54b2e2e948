"""The kernels' per-worker set-up: Spark's own zip archives are read once
per Python worker, archives the user ships stay re-readable."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from jsonschema_spark.compiler import kernel


def _module_zip(path, name: str, source: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", source)
    return str(path)


def test_pin_keeps_install_archives_and_rereads_user_archives(tmp_path, monkeypatch):
    """After the pin, ``importlib.invalidate_caches()`` re-reads no archive
    outside the SparkFiles root and still re-reads one under it; a second
    pin wraps nothing."""
    from pyspark import SparkFiles

    root = tmp_path / "userFiles"
    root.mkdir()
    install = _module_zip(tmp_path / "pin_install.zip", "pin_install", "VALUE = 1\n")
    user = _module_zip(root / "pin_user.zip", "pin_user", "VALUE = 2\n")
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    monkeypatch.setattr(sys, "path", [install, user, *sys.path])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(kernel, "_ZIPS_PINNED", False)
    try:
        assert importlib.import_module("pin_install").VALUE == 1
        assert importlib.import_module("pin_user").VALUE == 2

        assert kernel._pin_spark_zips() >= 1
        assert type(sys.path_importer_cache[install]) is kernel._PinnedZipImporter
        assert type(sys.path_importer_cache[user]) is zipimport.zipimporter

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda archive: reads.append(archive) or read_directory(archive)
        )
        importlib.invalidate_caches()
        assert reads.count(install) == 0
        assert reads.count(user) == 1

        assert kernel._pin_spark_zips() == 0
        monkeypatch.setattr(kernel, "_ZIPS_PINNED", False)
        assert kernel._pin_spark_zips() == 0
    finally:
        sys.modules.pop("pin_install", None)
        sys.modules.pop("pin_user", None)


def test_add_py_file_after_a_kernel_run(spark, tmp_path):
    """A kernel run pins the worker's install archives; an archive added
    later with ``addPyFile`` imports and stays unpinned, and a second
    kernel run gives the first run's verdicts."""
    from jsonschema_spark.compiler.kernel import json_validation_kernel

    docs = spark.createDataFrame(
        [("1", '{"a": 1}'), ("2", '{"a": "x"}'), ("3", "[]"), ("4", None), ("5", "{")],
        "doc_id string, doc string",
    )
    spec = {"type": "object", "properties": {"a": {"type": "integer"}}}

    def verdicts():
        out = docs.select("doc_id", json_validation_kernel(spec, F.col("doc")).alias("v"))
        return sorted(tuple(r) for r in out.collect())

    first = verdicts()
    assert [r[1].valid for r in first] == [True, False, False, False, False]

    name = f"pin_added_{uuid.uuid4().hex}"
    spark.sparkContext.addPyFile(
        _module_zip(tmp_path / f"{name}.zip", name, "def triple(x):\n    return 3 * x\n")
    )

    @F.pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        import importlib
        import sys

        from jsonschema_spark.compiler import kernel as worker_kernel

        mod = importlib.import_module(name)
        # pin again now that the added archive has an importer
        worker_kernel._ZIPS_PINNED = False
        worker_kernel._pin_spark_zips()
        pinned = sum(type(f) is worker_kernel._PinnedZipImporter for f in sys.path_importer_cache.values())
        loader = type(mod.__loader__).__name__
        return ids.map(lambda i: f"{mod.triple(i)} {loader} {pinned > 0}")

    got = [r[1] for r in spark.range(4).select("id", probe("id")).orderBy("id").collect()]
    assert got == [f"{3 * i} zipimporter True" for i in range(4)]
    assert verdicts() == first

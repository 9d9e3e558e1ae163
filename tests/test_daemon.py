"""Local-mode Python worker daemon: zip directories are re-read only when
the archive changes, the session's workers run the patched importer, and
the gate keeps Spark's stock daemon where workers may not import us."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

from pubcrawler_spark.daemon import cached_invalidate_caches
from pubcrawler_spark.session import DAEMON_MODULE, python_daemon_module


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.new"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # new inode, as a rebuilt archive gets


def test_invalidate_caches_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importer = zipimport.zipimporter(archive)
    invalidate = cached_invalidate_caches()  # not installed on the class

    invalidate(importer)
    assert len(reads) == 2  # constructor + first (unkeyed) call
    invalidate(importer)
    invalidate(zipimport.zipimporter(archive))  # shares the cached directory
    assert len(reads) == 2

    _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    invalidate(importer)
    assert len(reads) == 3
    spec = importer.find_spec("mod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2
    invalidate(importer)
    assert len(reads) == 3
    # the test process's importers were never patched
    assert zipimport.zipimporter.invalidate_caches.__qualname__ == "zipimporter.invalidate_caches"


def test_session_workers_run_package_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    def _report(it):
        import zipimport as zi

        import pandas as pd

        for _ in it:
            yield pd.DataFrame({"fn": [zi.zipimporter.invalidate_caches.__qualname__]})

    rows = spark.range(4, numPartitions=4).mapInPandas(_report, "fn string").collect()
    assert {r.fn for r in rows} == {"cached_invalidate_caches.<locals>.invalidate_caches"}


def test_daemon_gate():
    assert python_daemon_module("local[4]", {}) == DAEMON_MODULE
    assert python_daemon_module("local", {}) == DAEMON_MODULE
    assert python_daemon_module("local[*]", {}) == DAEMON_MODULE
    # spark-submit owns the JVM: workers may not see our PYTHONPATH
    assert python_daemon_module("local[4]", {"PYSPARK_GATEWAY_PORT": "4040"}) is None
    for master in ("spark://host:7077", "yarn", "k8s://https://api:6443", "local-cluster[2,1,1024]"):
        assert python_daemon_module(master, {}) is None

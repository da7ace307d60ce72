"""Python worker daemon: change-aware zipimport invalidation
(``pdf_extraction_spark.worker_daemon``) and the session conf that selects it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pdf_extraction_spark import worker_daemon
from pdf_extraction_spark.session import PACKAGE_ROOT, worker_daemon_conf

DAEMON = "pdf_extraction_spark.worker_daemon"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def reads(monkeypatch):
    """Install the patch for one test (restored afterwards) and record every
    archive whose central directory is read."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    worker_daemon.install()
    return calls


@pytest.fixture()
def on_path():
    """Put archives on sys.path; drop them and their modules afterwards."""
    added, before = [], set(sys.modules)

    def add(path):
        sys.path.insert(0, path)
        added.append(path)

    yield add
    for p in added:
        sys.path.remove(p)
        sys.path_importer_cache.pop(p, None)
    for name in set(sys.modules) - before:
        del sys.modules[name]


def test_changed_archive_is_reread_unchanged_is_not(tmp_path, reads, on_path):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"wd_first": "X = 1"})
    on_path(zpath)
    assert importlib.import_module("wd_first").X == 1
    importlib.invalidate_caches()  # stamps the new importer
    reads.clear()

    importlib.invalidate_caches()
    assert zpath not in reads  # unchanged archive: no re-read

    _write_zip(zpath, {"wd_first": "X = 1", "wd_second": "Y = 2"})
    importlib.invalidate_caches()
    assert reads.count(zpath) == 1
    assert importlib.import_module("wd_second").Y == 2


def test_install_stamps_existing_importers(tmp_path, reads, on_path):
    """Importers that exist when the daemon installs the patch (and that
    its forked workers inherit) are not re-read by the first task."""
    zpath = str(tmp_path / "pre.zip")
    _write_zip(zpath, {"wd_pre": "Z = 3"})
    on_path(zpath)
    importlib.import_module("wd_pre")
    worker_daemon.install()
    reads.clear()
    importlib.invalidate_caches()
    assert zpath not in reads


def test_every_importer_of_one_archive_sees_a_change(tmp_path, reads):
    zpath = str(tmp_path / "shared.zip")
    _write_zip(zpath, {"wd_old": "A = 1"})
    a, b = zipimport.zipimporter(zpath), zipimport.zipimporter(zpath)
    a.invalidate_caches()
    b.invalidate_caches()

    _write_zip(zpath, {"wd_old": "A = 1", "wd_new": "B = 2"})
    a.invalidate_caches()
    b.invalidate_caches()
    assert a.find_spec("wd_new") is not None
    assert b.find_spec("wd_new") is not None


def test_missing_archive_falls_back_to_stock(tmp_path, reads):
    zpath = str(tmp_path / "gone.zip")
    _write_zip(zpath, {"wd_gone": "G = 1"})
    imp = zipimport.zipimporter(zpath)
    imp.invalidate_caches()
    assert imp.find_spec("wd_gone") is not None
    os.remove(zpath)

    imp.invalidate_caches()
    assert imp._files == {}  # what the stock method leaves after a failed read
    assert imp.find_spec("wd_gone") is None
    assert zpath not in zipimport._zip_directory_cache


def test_conf_local_master_with_package_dir():
    assert worker_daemon_conf("local[4]", "/src/repo") == {
        "spark.python.daemon.module": DAEMON,
        "spark.executorEnv.PYTHONPATH": "/src/repo",
    }
    assert worker_daemon_conf("local", "/src/repo")["spark.python.daemon.module"] == DAEMON
    # merged with an existing value, never duplicated
    got = worker_daemon_conf("local[*]", "/src/repo", os.pathsep.join(["/a", "/b"]))
    assert got["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(["/a", "/b", "/src/repo"])
    got = worker_daemon_conf("local[2]", "/src/repo", "/src/repo")
    assert got["spark.executorEnv.PYTHONPATH"] == "/src/repo"


def test_conf_local_master_with_zip():
    got = worker_daemon_conf("local[2]", "/tmp/job/pdf_extraction_spark.zip")
    assert got == {
        "spark.python.daemon.module": DAEMON,
        "spark.executorEnv.PYTHONPATH": "/tmp/job/pdf_extraction_spark.zip",
    }


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://https://h:443",
                                    "local-cluster[2,1,1024]"])
def test_conf_non_local_master_sets_nothing(master):
    assert worker_daemon_conf(master, "/src/repo", "/a") == {}


def test_package_root_is_the_import_root():
    assert os.path.isfile(os.path.join(PACKAGE_ROOT, "pdf_extraction_spark", "worker_daemon.py"))


def test_session_workers_run_under_the_daemon(spark):
    import pandas as pd

    def probe(batches):
        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r["m"] for r in spark.range(8).repartition(4).mapInPandas(probe, "m string").collect()}
    assert got == {DAEMON}
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON


def test_code_shipped_mid_session_is_importable(spark, tmp_path):
    """Workers that already ran tasks still find a zip added afterwards: a
    new archive path gets a new importer, read on first use."""
    zpath = str(tmp_path / "wd_shipped.zip")
    _write_zip(zpath, {"wd_shipped_mod": "VALUE = 41"})
    spark.range(8).repartition(4).mapInPandas(lambda it: it, "id long").collect()
    spark.sparkContext.addPyFile(zpath)

    def use(batches):
        import pandas as pd
        import wd_shipped_mod

        for b in batches:
            yield pd.DataFrame({"v": b["id"] * 0 + wd_shipped_mod.VALUE + 1})

    got = {r["v"] for r in spark.range(8).repartition(4).mapInPandas(use, "v long").collect()}
    assert got == {42}

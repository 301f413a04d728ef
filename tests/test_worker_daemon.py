"""The engine's Python-worker daemon: the zipimport directory cache it
installs (no Spark needed) and the session wiring that launches every Python
worker from it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from map_reduce_group_spark import worker_daemon

pytestmark = pytest.mark.quick

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """An archive on ``sys.path``, and the list of archives whose directory
    ``zipimport`` reads; the original method is restored afterwards."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("wd_alpha.py", "VALUE = 'alpha'\n")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("wd_alpha", "wd_beta"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the module is a no-op on 3.12+")
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("wd_alpha").VALUE == "alpha"
    worker_daemon.keep_unchanged_zip_directories()
    importlib.invalidate_caches()  # first sight: read and stamp
    n = reads.count(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == n


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the module is a no-op on 3.12+")
def test_rewritten_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("wd_alpha").VALUE == "alpha"
    worker_daemon.keep_unchanged_zip_directories()
    importlib.invalidate_caches()
    n = reads.count(archive)
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("wd_alpha.py", "VALUE = 'alpha'\n")
        zf.writestr("wd_beta.py", "VALUE = 'beta'\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == n + 1
    assert importlib.import_module("wd_beta").VALUE == "beta"


def test_python_312_is_left_untouched(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    worker_daemon.keep_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is original


def test_session_workers_use_engine_daemon(spark):
    """Both runner kinds — plain RDD and Arrow (mapInPandas) — fork from it."""

    def owner():
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    def owner_batches(batches):
        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"owner": [owner()]})

    rdd_owner = spark.sparkContext.parallelize([0], 1).map(lambda _: owner()).collect()
    arrow_owner = spark.range(1).mapInPandas(owner_batches, "owner string").collect()
    assert rdd_owner == [worker_daemon.__name__]
    assert [r.owner for r in arrow_owner] == [worker_daemon.__name__]


def test_session_outside_checkout(tmp_path):
    """The daemon imports the engine package, so a session started away from
    the checkout with ``PYTHONPATH`` unset must still run Python tasks."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from map_reduce_group_spark.session import get_session\n"
        "spark = get_session('outside-checkout')\n"
        "print(spark.sparkContext.parallelize(range(10), 2).map(lambda x: x * x).sum())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.split()[-1] == "285"

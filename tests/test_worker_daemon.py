"""Contract of the worker-daemon bootstrap
(:mod:`flash_cdc_spark.worker_daemon`): an archive on the import path
is re-read by ``importlib.invalidate_caches()`` only when it changed on
disk, a rewritten archive's new modules import, the patch is idempotent
and is what Spark's Python workers run, and the workers import this
package from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from flash_cdc_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def restore(monkeypatch):
    """Undo, at teardown, an :func:`install` made in this process."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_STAMPS", {})


def _write_zip(path: str, modules: dict[str, str]) -> None:
    """Write ``modules`` (name -> source) to a new archive at ``path``,
    replacing any old one in one rename, as a deployment would."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.mark.smoke
def test_rewritten_archive_is_reread(restore, monkeypatch, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"flashzip_old": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    worker_daemon.install()
    monkeypatch.delitem(sys.modules, "flashzip_old", raising=False)
    monkeypatch.delitem(sys.modules, "flashzip_new", raising=False)
    assert importlib.import_module("flashzip_old").X == 1

    _write_zip(archive, {"flashzip_old": "X = 1\n", "flashzip_new": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("flashzip_new").Y == 2


@pytest.mark.smoke
def test_unchanged_archive_is_not_reread(restore, monkeypatch, tmp_path):
    """As in the daemon: the archive is on ``sys.path`` when the
    bootstrap installs, so every later invalidation finds its stamp."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"flashzip_same": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    worker_daemon.install()
    monkeypatch.delitem(sys.modules, "flashzip_same", raising=False)
    importlib.import_module("flashzip_same")
    assert any(
        getattr(f, "archive", None) == archive for f in sys.path_importer_cache.values()
    )

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads


def test_install_is_idempotent(restore):
    worker_daemon.install()
    patched = zipimport.zipimporter.invalidate_caches
    assert getattr(patched, worker_daemon.MARKER) is True
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_task_worker_runs_the_bootstrap(spark):
    def marker(_):
        import zipimport

        yield getattr(zipimport.zipimporter.invalidate_caches, "_flash_stamped", False)

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(marker).collect() == [True]


def test_workers_import_the_package_outside_the_checkout(tmp_path):
    """A driver started outside the checkout with no ``PYTHONPATH``:
    the daemon and a ``mapInPandas`` worker that imports this package
    must both find it."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from flash_cdc_spark.session import get_spark

        def version(batches):
            import flash_cdc_spark
            for b in batches:
                yield b.assign(v=flash_cdc_spark.__version__)

        spark = get_spark(app_name="outside-checkout", master="local[1]")
        rows = spark.range(1).mapInPandas(version, "id long, v string").collect()
        print("VERSION", rows[0]["v"])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    import flash_cdc_spark

    assert f"VERSION {flash_cdc_spark.__version__}" in proc.stdout, proc.stderr[-3000:]

"""texel_spark.worker_daemon: its invalidate_caches shim does what the
stock one does minus the zip importers, it fails open, and every session
in the repo is built by get_spark, which turns it on.

No test here starts a Spark session in this process; the in-worker checks
use the shared session in test_spark_ops.py.
"""

import importlib
import os
import re
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from importlib import _bootstrap_external
from importlib.machinery import SOURCE_SUFFIXES, FileFinder, SourceFileLoader

import pytest

pytest.importorskip("pyspark")

from texel_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _CountingZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        self.calls = getattr(self, "calls", 0) + 1
        super().invalidate_caches()


class _CountingFinder:
    calls = 0

    def invalidate_caches(self):
        self.calls += 1


def _run_on_synthetic_cache(invalidate, tmp_path, monkeypatch):
    zip_path = tmp_path / "lib.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr("zmod.py", "X = 1\n")
    file_finder = FileFinder(str(tmp_path), (SourceFileLoader, SOURCE_SUFFIXES))
    file_finder._path_mtime = 123.0
    zip_finder = _CountingZipImporter(str(zip_path))
    custom = _CountingFinder()
    cache = {
        str(tmp_path): file_finder,
        "relative/dir": FileFinder("relative/dir", (SourceFileLoader, SOURCE_SUFFIXES)),
        str(tmp_path / "missing"): None,
        str(zip_path): zip_finder,
        str(tmp_path / "custom"): custom,
        str(tmp_path / "no_method"): object(),
    }
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    epoch = _bootstrap_external._NamespacePath._epoch
    invalidate()
    return {
        "keys": list(cache),
        "file_mtime": file_finder._path_mtime,
        "custom_calls": custom.calls,
        "epoch_bump": _bootstrap_external._NamespacePath._epoch - epoch,
        "zip_calls": getattr(zip_finder, "calls", 0),
    }


def test_shim_matches_stock_invalidate_caches_but_skips_zips(tmp_path, monkeypatch):
    stock = _run_on_synthetic_cache(importlib.invalidate_caches, tmp_path, monkeypatch)
    shim = _run_on_synthetic_cache(worker_daemon.invalidate_caches, tmp_path, monkeypatch)
    assert stock["keys"] == [str(tmp_path), str(tmp_path / "lib.zip"), str(tmp_path / "custom"), str(tmp_path / "no_method")]
    assert stock["file_mtime"] == -1 and stock["custom_calls"] == 1 and stock["epoch_bump"] == 1
    assert {k: v for k, v in shim.items() if k != "zip_calls"} == {k: v for k, v in stock.items() if k != "zip_calls"}
    assert stock["zip_calls"] == 1 and shim["zip_calls"] == 0


def test_install_fails_open_without_worker_util_importlib(monkeypatch):
    from pyspark import worker_util

    monkeypatch.delattr(worker_util, "importlib")
    importlib.reload(worker_daemon)
    assert worker_daemon.install() is False
    assert not hasattr(worker_util, "importlib")


def test_every_session_is_built_by_get_spark():
    # get_spark sets spark.python.daemon.module; a session built anywhere
    # else would run the stock daemon
    builder = re.compile(r"SparkSession\s*\.\s*builder")
    offenders = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]  # .git, perfbench/.cache
        for fn in filenames:
            rel = os.path.relpath(os.path.join(dirpath, fn), ROOT)
            if fn.endswith(".py") and rel != os.path.join("texel_spark", "session.py"):
                with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
                    if builder.search(f.read()):
                        offenders.append(rel)
    assert offenders == []


def test_daemon_starts_whatever_the_driver_cwd(tmp_path):
    """The daemon imports texel_spark from the directory get_spark was
    imported from, not from the driver's cwd or the caller's PYTHONPATH."""
    code = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, %r)
        from texel_spark.session import get_spark

        def shim_file(batches):
            import pandas as pd
            from pyspark import worker_util
            for _ in batches:
                pass
            yield pd.DataFrame({"f": [worker_util.importlib.invalidate_caches.__code__.co_filename]})

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        print(spark.range(3).mapInPandas(shim_file, "f string").first()["f"])
        spark.stop()
        """
    ) % ROOT
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert os.path.samefile(out.stdout.strip().splitlines()[-1], worker_daemon.__file__)

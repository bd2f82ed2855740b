"""The worker daemon's zip-directory shim (``mapreduceproject_spark._pyworker``):
a changed archive is re-read, an unchanged one is not, and the test
session's Python workers run under it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from mapreduceproject_spark import _pyworker

OLD_PYTHON = sys.version_info < (3, 12)


@pytest.fixture
def shim(monkeypatch):
    """Install the shim for one test; monkeypatch restores zipimport."""
    if not OLD_PYTHON:
        pytest.skip("Python 3.12+ re-reads zip directories lazily; no shim")
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(zipimport, "_read_stamps", None, raising=False)
    _pyworker.install()
    yield
    for name in [m for m in sys.modules if m.startswith("_pyworker_probe_")]:
        del sys.modules[name]


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def _on_path(monkeypatch, archive) -> None:
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.path_importer_cache, str(archive), raising=False)


def test_rewritten_zip_is_importable_after_invalidate(shim, tmp_path, monkeypatch):
    z = tmp_path / "lib.zip"
    _write_zip(z, {"_pyworker_probe_a.py": "X = 1\n"})
    _on_path(monkeypatch, z)
    assert importlib.import_module("_pyworker_probe_a").X == 1
    _write_zip(z, {"_pyworker_probe_a.py": "X = 1\n", "_pyworker_probe_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("_pyworker_probe_b").Y == 2


def test_unchanged_zip_is_not_reread(shim, tmp_path, monkeypatch):
    z = tmp_path / "lib.zip"
    _write_zip(z, {"_pyworker_probe_c.py": "Z = 3\n"})
    reads: list[str] = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))
    _on_path(monkeypatch, z)
    assert importlib.import_module("_pyworker_probe_c").Z == 3
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(z)) == 1
    st = os.stat(z)
    os.utime(z, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads.count(str(z)) == 2


def test_session_workers_run_the_shim(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({"on": [getattr(zipimport, "_read_stamps", None) is not None]})

    rows = spark.range(2).mapInPandas(probe, "on boolean").collect()
    assert rows and all(r["on"] == OLD_PYTHON for r in rows)

"""The stat-keyed zipimport directory cache (logeventprocessor_spark/
zipcache.py): an unchanged archive is not re-read by
``importlib.invalidate_caches()``, a rewritten one is."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from logeventprocessor_spark import zipcache

before_312 = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="the cache is installed on CPython < 3.12 only",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zc_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@before_312
def test_package_import_installs_cache():
    import logeventprocessor_spark  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches


@before_312
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    assert importlib.import_module("zc_mod_a").VALUE == "a"
    importlib.invalidate_caches()  # first call: reads, records the stat
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert path not in reads


@before_312
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    assert importlib.import_module("zc_mod_a").VALUE == "a"
    importlib.invalidate_caches()
    st = os.stat(path)
    _write_zip(path, {"zc_mod_a": "VALUE = 'a'\n", "zc_mod_b": "VALUE = 'b'\n"})
    # a same-second rewrite must still be seen: move mtime explicitly
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    del reads[:]
    importlib.invalidate_caches()
    assert path in reads
    assert importlib.import_module("zc_mod_b").VALUE == "b"


def test_not_installed_on_312(monkeypatch):
    def stock(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock

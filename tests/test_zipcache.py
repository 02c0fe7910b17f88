"""zipimporter.invalidate_caches skips re-reading an unchanged archive
(xorf_spark/_zipcache.py) and never hides a changed one."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import xorf_spark  # noqa: F401  (installs the wrap)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding one module, importable from sys.path, plus a counter
    of directory reads of that archive."""
    archive = str(tmp_path / "mods.zip")
    name = f"zc_mod_{tmp_path.name.replace('-', '_')}"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(name)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, name, reads
    for m in [m for m in sys.modules if m.startswith(name)]:
        del sys.modules[m]
    sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12 defers the re-read itself")
def test_unchanged_zip_not_reread(zip_on_path):
    archive, _, reads = zip_on_path
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_changed_zip_reread(zip_on_path):
    archive, name, reads = zip_on_path
    importlib.invalidate_caches()
    del reads[:]
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 1\n")
        z.writestr(f"{name}_added.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module(f"{name}_added").VALUE == 2


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12 defers the re-read itself")
def test_install_idempotent():
    from xorf_spark import _zipcache

    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.__module__ == _zipcache.__name__
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped

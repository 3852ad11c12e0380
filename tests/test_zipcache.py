"""The stat-checked zipimporter cache (mashspark._zipcache), no Spark: an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
rewritten one is."""

import importlib
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] < (3, 12),
    reason="zipimporter.invalidate_caches re-reads eagerly only on "
           "CPython 3.10/3.11 (absent on 3.9, lazy from 3.12)")


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """``pkg`` importable from a zip at the front of sys.path; the stock
    invalidate_caches, sys.modules and sys.path are restored after."""
    archive = tmp_path / "zipcache_pkg.zip"
    members = {"pkg/__init__.py": "", "pkg/a.py": "A = 1\n"}
    _write_zip(archive, members)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    saved = {k: v for k, v in sys.modules.items()
             if k == "pkg" or k.startswith("pkg.")}
    for k in saved:
        del sys.modules[k]
    yield archive, members
    for k in [k for k in sys.modules if k == "pkg" or k.startswith("pkg.")]:
        del sys.modules[k]
    sys.modules.update(saved)
    for k in [k for k in sys.path_importer_cache if str(archive) in k]:
        del sys.path_importer_cache[k]


def test_unchanged_archive_not_reread_changed_one_is(zipped_pkg,
                                                     monkeypatch):
    from mashspark import _zipcache

    archive, members = zipped_pkg
    assert importlib.import_module("pkg.a").A == 1

    _zipcache.install()
    importlib.invalidate_caches()  # importers made before install: stamp

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {**members, "pkg/b.py": "B = 2\n"})
    importlib.invalidate_caches()
    assert reads  # the rewritten archive was re-read
    assert importlib.import_module("pkg.b").B == 2

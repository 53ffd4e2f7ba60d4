"""The zip guard (html2text_spark.zipguard) on its own, without Spark.

``importlib.invalidate_caches()`` must not re-read the directory of an
unchanged zip archive, and must re-read a changed one once, not once per
importer into it.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import html2text_spark  # noqa: E402,F401  (installs the guard)

pytestmark = pytest.mark.skipif(
    sys.version_info[:2] not in ((3, 10), (3, 11)),
    reason="the guard is installed on CPython 3.10-3.11 only; 3.12+ "
    "re-reads zip directories lazily itself (gh-103200)",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(name, source)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "zgpkgs.zip")
    _write_zip(path, {
        "zgpkg/__init__.py": "",
        "zgpkg/sub/__init__.py": "",
        "zgpkg/sub/a.py": "A = 1\n",
    })
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] == "zgpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def test_invalidate_caches_rereads_a_zip_only_when_it_changed(archive, monkeypatch):
    import zgpkg.sub.a

    assert zgpkg.sub.a.A == 1
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 3  # the archive root, zgpkg and zgpkg/sub

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read(path)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert len({id(f._files) for f in importers}) == 1

    _write_zip(archive, {
        "zgpkg/__init__.py": "",
        "zgpkg/sub/__init__.py": "",
        "zgpkg/sub/a.py": "A = 1\n",
        "zgpkg/sub/b.py": "B = 2\n",
    })
    importlib.invalidate_caches()
    assert reads == [archive]
    assert len({id(f._files) for f in importers}) == 1
    from zgpkg.sub import b

    assert b.B == 2
    assert reads == [archive]

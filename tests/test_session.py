"""Worker code shipping: the package zip follows the sources, and the
worker-side import cache trim keeps zip imports working."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from ps_pagerank_spark.session import build_package_zip, drop_zip_importers


def _zip_sources(zpath):
    with zipfile.ZipFile(zpath) as zf:
        return {n: zf.read(n).decode() for n in zf.namelist()}


def test_package_zip_replaced_when_stale_kept_when_current(tmp_path):
    pkg = tmp_path / "enginepkg"
    (pkg / "ops").mkdir(parents=True)
    (pkg / "__init__.py").write_text("A = 1\n")
    (pkg / "ops" / "k.py").write_text("def f():\n    return 1\n")
    (pkg / "ops" / "notes.txt").write_text("not shipped\n")
    zpath = tmp_path / "pyfiles.zip"

    # a stale zip from an older tree (no recorded hash) is replaced
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("enginepkg/__init__.py", "A = 0\n")
    assert build_package_zip(pkg, zpath) is True
    assert _zip_sources(zpath) == {
        "enginepkg/__init__.py": "A = 1\n",
        "enginepkg/ops/k.py": "def f():\n    return 1\n",
    }

    # unchanged sources: the zip is not rewritten
    before = zpath.stat()
    assert build_package_zip(pkg, zpath) is False
    after = zpath.stat()
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)

    # an edited (or added) module replaces the zip again
    (pkg / "ops" / "k.py").write_text("def f():\n    return 2\n")
    (pkg / "ops" / "new.py").write_text("B = 3\n")
    assert build_package_zip(pkg, zpath) is True
    got = _zip_sources(zpath)
    assert got["enginepkg/ops/k.py"] == "def f():\n    return 2\n"
    assert got["enginepkg/ops/new.py"] == "B = 3\n"

    # an unreadable file at the path is rebuilt, not trusted
    zpath.write_bytes(b"not a zip")
    assert build_package_zip(pkg, zpath) is True
    assert "enginepkg/ops/new.py" in _zip_sources(zpath)
    assert not list(tmp_path.glob("*.tmp"))


def _zip_finders():
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_importers_keeps_zip_imports_working(tmp_path, monkeypatch):
    """After the trim no zip importer is cached, so the next
    invalidate_caches() has no archive to re-read, and a module not yet
    imported from the zip still imports (its importer is rebuilt)."""
    zpath = tmp_path / "lib.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/a.py", "A = 1\n")
        zf.writestr("zpkg/b.py", "B = 2\n")
    monkeypatch.syspath_prepend(str(zpath))
    try:
        a = importlib.import_module("zpkg.a")
        assert a.A == 1
        assert str(zpath) in _zip_finders()
        drop_zip_importers()
        assert _zip_finders() == []
        importlib.invalidate_caches()
        b = importlib.import_module("zpkg.b")
        assert b.B == 2
    finally:
        for name in ("zpkg.b", "zpkg.a", "zpkg"):
            sys.modules.pop(name, None)

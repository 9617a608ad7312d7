"""Worker code shipping: the package zip follows the sources."""

from __future__ import annotations

import zipfile

from ps_pagerank_spark.session import build_package_zip


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

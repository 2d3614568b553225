"""The executor zip: one per package root, so two checkouts on one host
never ship each other's code."""

import tempfile
import zipfile

from skyline_spark import packaging


def test_two_package_roots_get_two_zips(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    paths = []
    for name in ("old", "new"):
        root = tmp_path / name / "skyline_spark"
        root.mkdir(parents=True)
        (root / "__init__.py").write_text(f"CHECKOUT = {name!r}\n")
        monkeypatch.setattr(packaging, "_PKG_ROOT", root)
        paths.append(packaging.build_pyfiles_zip())
    assert paths[0] != paths[1]
    for name, path in zip(("old", "new"), paths):
        with zipfile.ZipFile(path) as zf:
            assert zf.read("skyline_spark/__init__.py").decode() == f"CHECKOUT = {name!r}\n"
    # the same root keeps its path, so a re-attach reuses the built zip
    assert packaging.build_pyfiles_zip() == paths[1]

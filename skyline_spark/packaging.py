"""Packaging for ``spark-submit --py-files`` (north rule requirement).

``build_pyfiles_zip`` produces a zip of the ``skyline_spark`` package that
can be shipped to executors either via ``spark-submit --py-files <zip>`` on
a real cluster, or programmatically via ``sc.addPyFile`` (what
``session.get_spark`` does) so the grouped-map pandas-UDF kernels can be
unpickled on every worker regardless of the driver's cwd.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

__all__ = ["build_pyfiles_zip", "attach_package"]

_PKG_ROOT = Path(__file__).resolve().parent


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the skyline_spark package; returns the zip path.

    The zip is rebuilt only when a source file is newer than the existing
    zip, so repeated session creation is cheap. The default path is keyed
    by the package's location, so two checkouts on one host never ship
    each other's code to their executors.
    """
    if dest is None:
        key = hashlib.sha1(str(_PKG_ROOT).encode()).hexdigest()[:12]
        dest = os.path.join(tempfile.gettempdir(), f"skyline_spark_pyfiles-{key}.zip")
    sources = sorted(_PKG_ROOT.rglob("*.py"))
    if os.path.exists(dest):
        zip_mtime = os.path.getmtime(dest)
        if all(p.stat().st_mtime < zip_mtime for p in sources):
            return dest
    tmp = dest + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sources:
            zf.write(p, arcname=str(Path("skyline_spark") / p.relative_to(_PKG_ROOT)))
    os.replace(tmp, dest)
    return dest


def attach_package(spark) -> None:
    """Ship this package to executors (addPyFile ≍ --py-files)."""
    spark.sparkContext.addPyFile(build_pyfiles_zip())

"""Python worker daemon: ``pyspark.daemon`` without Spark's zipped copies
of pyspark and py4j on ``sys.path``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*-src.zip``
and the spark-core jar at the front of every Python worker's path, and
pyspark's worker calls ``importlib.invalidate_caches()`` before every
task. On Python 3.11 that makes each cached ``zipimporter`` re-read its
archive's whole directory (1,328 entries in pyspark.zip, 5,359 in the
jar): about 250 ms of CPU per task before any user code runs. When this
interpreter has an unzipped pyspark and py4j of the same versions as the
archives, dropping the archives loses nothing; otherwise (an executor
that only has the zip, or a version mismatch) the path stays as Spark
built it.

``session.get_spark`` launches local-mode workers through this module
(``spark.python.daemon.module``). It imports only the standard library
until the path is filtered, so pyspark itself is then imported from the
unzipped install.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _is_spark_archive(entry: str) -> bool:
    """A path entry Spark adds for its own Python code: pyspark.zip, the
    py4j source zip, or a jar."""
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or name.endswith(".jar")
    )


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _installed_version(package: str, path: list[str]) -> str | None:
    """The version of ``package`` as an unzipped directory on ``path``,
    or None when it is missing or not a plain directory."""
    spec = PathFinder.find_spec(package, path)
    for d in (spec and spec.submodule_search_locations) or ():
        try:
            with open(os.path.join(d, "version.py")) as f:
                return _version(f.read())
        except OSError:
            pass
    return None


def _archived_versions(archive: str) -> dict[str, str]:
    """{package: version} for pyspark/py4j inside a zip or jar; empty
    when the archive is missing or unreadable (it then serves no
    imports either)."""
    out = {}
    try:
        with zipfile.ZipFile(archive) as z:
            names = set(z.namelist())
            for package in ("pyspark", "py4j"):
                member = f"{package}/version.py"
                if member in names:
                    out[package] = _version(z.read(member).decode())
    except (OSError, zipfile.BadZipFile):
        pass
    return out


def unzipped_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the remaining entries hold
    an unzipped pyspark and py4j whose versions equal every copy inside
    the archives; otherwise ``path`` unchanged."""
    archives = [p for p in path if _is_spark_archive(p)]
    if not archives:
        return list(path)
    rest = [p for p in path if not _is_spark_archive(p)]
    installed = {pkg: _installed_version(pkg, rest) for pkg in ("pyspark", "py4j")}
    if None in installed.values():
        return list(path)
    for archive in archives:
        for pkg, version in _archived_versions(archive).items():
            if version != installed[pkg]:
                return list(path)
    return rest


def _drop_archives() -> None:
    kept = unzipped_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_archives()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

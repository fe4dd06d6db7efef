"""Python worker daemon that imports pyspark from site-packages, not from
Spark's archives.

Spark starts its workers with ``pyspark.zip``, the py4j source zip and the
spark-core jar on ``PYTHONPATH``. Every task calls
``importlib.invalidate_caches()``, which re-reads the central directory of
every archive behind a cached zipimporter, and the zip's pyspark ships no
bytecode. When the same pyspark version is installed outside the archives,
this module drops the archives from the import system; otherwise it keeps
Spark's import path.

Either way it then imports the workers' stack once (``pyspark.worker``,
pandas when installed, and the extract job with pyarrow.compute and the
kernel) and calls ``gc.freeze()`` before it runs the stock
``pyspark.daemon``. Every worker is a fork of this process, so it shares
those pages copy-on-write instead of importing its own copy. The freeze
keeps them shared: after each task the daemon's child runs
``gc.collect()``, which writes to the header of every object it scans,
and the collector never scans a frozen object. The daemon runs no Arrow
compute and starts no Python thread before it forks.
``get_spark`` selects this module through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import gc
import importlib.util
import os
import re
import runpy
import sys
import zipimport
from importlib.machinery import PathFinder

_ARCHIVE = re.compile(r"\.(zip|jar)([/\\]|$)", re.IGNORECASE)
_VERSION = re.compile(r"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.MULTILINE)


def _in_archive(path: str) -> bool:
    """True when ``path`` is an archive or lies inside one."""
    return bool(_ARCHIVE.search(path))


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _archived_version(archives: list[str]) -> str | None:
    """``__version__`` of the first archive that holds ``pyspark/version.py``."""
    for a in archives:
        try:
            return _version(zipimport.zipimporter(a).get_data("pyspark/version.py").decode())
        except (OSError, zipimport.ZipImportError):
            continue
    return None


def _site_version(path: list[str]) -> str | None:
    """``__version__`` of the pyspark found on ``path``, read without importing it."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.has_location:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), encoding="utf-8") as f:
            return _version(f.read())
    except OSError:
        return None


def archive_free_path(path: list[str]) -> list[str] | None:
    """``path`` without its archive entries when the pyspark and py4j outside
    them can stand in for the archived ones (same pyspark version); None to
    keep the stock import path."""
    archives = [p for p in path if _in_archive(p)]
    rest = [p for p in path if not _in_archive(p)]
    zipped = _archived_version(archives)
    if zipped is None or PathFinder.find_spec("py4j", rest) is None:
        return None
    return rest if _site_version(rest) == zipped else None


def _drop_archives(path: list[str]) -> None:
    sys.path[:] = path
    for key in [k for k in sys.path_importer_cache if _in_archive(k)]:
        del sys.path_importer_cache[key]
    # the archives' directories stay cached in zipimport until dropped here
    getattr(zipimport, "_zip_directory_cache", {}).clear()
    for name, mod in list(sys.modules.items()):
        if any(_in_archive(p) for p in getattr(mod, "__path__", None) or ()):
            del sys.modules[name]


def preload() -> None:
    """Import what every worker imports, then freeze it out of the collector.

    ``pyspark.daemon`` imports ``pyspark.worker`` only once it runs, after
    the freeze, so it is imported here. pyarrow imports pandas on the first
    array it builds from Python objects (the extract job's ``fill_null``).
    """
    import pyspark.worker  # noqa: F401

    if importlib.util.find_spec("pandas") is not None:
        import pandas  # noqa: F401
    import ocrautomator_spark.spark.extract_job  # noqa: F401

    gc.freeze()


def main() -> None:
    path = archive_free_path(sys.path)
    if path is not None:
        _drop_archives(path)
    preload()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()

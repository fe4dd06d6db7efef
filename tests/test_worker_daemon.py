"""The zip-free, preloading Python worker daemon (spark/worker_daemon.py)
and the guard that selects it in ``get_spark``.

A stock worker imports pyspark from Spark's pyspark.zip with the spark-core
jar on its path, re-reads every archive's directory on each task, and
imports its own copy of the extract stack. The first two tests check,
inside a real worker, that neither archive is left and that the worker was
forked from a daemon that preloaded and froze that stack; the rest check
the preload and the fallbacks without Spark."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyspark
import pytest

import ocrautomator_spark
from ocrautomator_spark.spark.session import worker_daemon_reachable
from ocrautomator_spark.spark.worker_daemon import archive_free_path

# a path that is, or lies inside, a .zip or .jar archive
ARCHIVED = re.compile(r"\.(zip|jar)([/\\]|$)", re.IGNORECASE)


def _archive_origin(it):
    """Where the worker's import system points: pyspark's origin and version,
    cached zipimporters, and packages whose path is in an archive."""
    import sys
    import zipimport

    import pyspark

    origin = {
        "file": pyspark.__file__,
        "version": pyspark.__version__,
        "zipimporters": [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)],
        "archive_packages": [
            name
            for name, mod in list(sys.modules.items())
            if any(ARCHIVED.search(p) for p in getattr(mod, "__path__", None) or ())
        ],
    }
    for _ in it:
        pass
    yield pa.RecordBatch.from_pydict({"origin": [json.dumps(origin)]})


def test_python_worker_imports_site_pyspark(spark):
    """Python workers run on the installed pyspark, not on Spark's
    pyspark.zip and jar, so no archive is left for ``invalidate_caches()``
    to re-read on every task."""
    (row,) = spark.range(1, numPartitions=1).mapInArrow(_archive_origin, "origin string").collect()
    origin = json.loads(row.origin)
    assert not ARCHIVED.search(origin["file"]), origin["file"]
    assert origin["version"] == pyspark.__version__
    assert origin["zipimporters"] == []
    assert origin["archive_packages"] == []


def _daemon_state(it):
    """The worker's frozen-object count (inherited from the daemon at fork)
    and the names of the daemon's threads other than its main thread."""
    import gc
    import os

    daemon = str(os.getppid())
    tasks = f"/proc/{daemon}/task"
    threads = sorted(open(f"{tasks}/{t}/comm").read().strip() for t in os.listdir(tasks) if t != daemon)
    for _ in it:
        pass
    yield pa.RecordBatch.from_pydict({"state": [json.dumps({"frozen": gc.get_freeze_count(), "threads": threads})]})


def test_python_worker_forks_from_preloaded_daemon(spark):
    """The daemon imported the extract stack and froze it before forking:
    the worker inherits the frozen objects, and the daemon runs no thread
    but its main one and the allocator thread that importing pyarrow
    starts when Arrow allocates through jemalloc."""
    (row,) = spark.range(1, numPartitions=1).mapInArrow(_daemon_state, "state string").collect()
    state = json.loads(row.state)
    assert state["frozen"] > 0
    jemalloc = pa.default_memory_pool().backend_name == "jemalloc"
    assert state["threads"] == (["jemalloc_bg_thd"] if jemalloc else [])


_PRELOAD = """
import gc, json, sys, threading
{setup}
from ocrautomator_spark.spark.worker_daemon import preload
preload()
mods = ("pyspark.worker", "pandas", "ocrautomator_spark.spark.extract_job")
print(json.dumps({{
    "loaded": [m for m in mods if sys.modules.get(m) is not None],
    "frozen": gc.get_freeze_count(),
    "threads": threading.active_count(),
}}))
"""


@pytest.mark.parametrize(
    "setup, loaded",
    [
        pytest.param("", ["pyspark.worker", "pandas", "ocrautomator_spark.spark.extract_job"], id="with-pandas"),
        pytest.param('sys.modules["pandas"] = None', ["pyspark.worker", "ocrautomator_spark.spark.extract_job"], id="without-pandas"),
    ],
)
def test_preload_imports_and_freezes_worker_stack(setup, loaded):
    """``preload`` leaves the worker stack imported and frozen, with no
    Python thread besides the main one (the daemon forks right after), and
    it still succeeds when pandas cannot be imported."""
    out = subprocess.run(
        [sys.executable, "-c", _PRELOAD.format(setup=setup)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(ocrautomator_spark.__file__))),
        capture_output=True, text=True, check=True,
    ).stdout
    state = json.loads(out.splitlines()[-1])
    assert state["loaded"] == loaded
    assert state["frozen"] > 0
    assert state["threads"] == 1


def _site(tmp_path, version="4.1.2", pyspark=True, py4j=True) -> str:
    d = tmp_path / "site"
    d.mkdir()
    if pyspark:
        (d / "pyspark").mkdir()
        (d / "pyspark" / "__init__.py").write_text("")
        (d / "pyspark" / "version.py").write_text(f'__version__: str = "{version}"\n')
    if py4j:
        (d / "py4j").mkdir()
        (d / "py4j" / "__init__.py").write_text("")
    return str(d)


def _pyspark_zip(tmp_path, version="4.1.2") -> str:
    z = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("pyspark/__init__.py", "")
        f.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(z)


def test_archive_free_path_drops_every_archive(tmp_path):
    site = _site(tmp_path)
    path = [str(tmp_path), _pyspark_zip(tmp_path), str(tmp_path / "spark-core.jar"), site]
    assert archive_free_path(path) == [str(tmp_path), site]


@pytest.mark.parametrize(
    "site_kw",
    [
        pytest.param({"pyspark": False}, id="no-site-pyspark"),
        pytest.param({"version": "4.1.1"}, id="version-differs"),
        pytest.param({"py4j": False}, id="no-site-py4j"),
    ],
)
def test_archive_free_path_keeps_stock_daemon(tmp_path, site_kw):
    path = [_pyspark_zip(tmp_path), _site(tmp_path, **site_kw)]
    assert archive_free_path(path) is None


def test_archive_free_path_without_archived_pyspark(tmp_path):
    assert archive_free_path([_site(tmp_path)]) is None


def _reachable(master="local[4]", parent="/work/repo", cwd="/work/repo", site_dirs=(), pythonpath="", via_submit=False):
    return worker_daemon_reachable(
        master, package_parent=parent, cwd=cwd, site_dirs=list(site_dirs), pythonpath=pythonpath, via_submit=via_submit
    )


def test_daemon_conf_needs_local_master():
    assert _reachable()
    assert not _reachable(master="spark://host:7077")
    assert not _reachable(master="yarn")


def test_daemon_conf_needs_importable_package():
    assert not _reachable(cwd="/elsewhere")
    assert _reachable(cwd="/elsewhere", site_dirs=["/work/repo"])
    assert _reachable(cwd="/elsewhere", pythonpath="/srv/lib:/work/repo")


def test_daemon_conf_under_spark_submit_counts_only_cwd():
    """spark-submit started the JVM with its own environment; the driver's
    PYTHONPATH (which carries --py-files) says nothing about the workers'."""
    assert not _reachable(cwd="/elsewhere", pythonpath="/work/repo", via_submit=True)
    assert _reachable(pythonpath="/work/repo", via_submit=True)

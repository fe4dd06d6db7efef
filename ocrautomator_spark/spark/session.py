"""SparkSession builder with the engine's normative configuration.

Tuned for the sandbox (local[N] standing in for an N-executor cluster per the
driver's scaling protocol) but every knob is the one you'd set on a real
1000-executor cluster: AQE on (runtime coalescing + skew-join splitting),
Arrow batching sized so one batch of raw payloads fits comfortably in a
Python worker, UTC session timezone for deterministic timestamp semantics.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

import ocrautomator_spark
from ocrautomator_spark.spark import worker_daemon

# Rows per Arrow batch into a Python worker (every mapInArrow, mapInPandas
# and pandas_udf in the session). The extract job runs one mapInArrow task
# per core (extract_partitions), so each worker streams its whole share of a
# chunk, and its peak memory grows with the batch size. Peak Python PSS of
# the 80 000-turn perfbench backfill at local[2] on a 4-core box, measured
# on the zip-free daemon before it preloaded the worker stack: 4096 rows
# held ~12 MB more than 2048 and 10 000 rows ~35 MB more; walls were the
# same at 2048 and 4096 and ~0.3 s longer at 10 000. The Arrow/pandas
# headline queries (pipeline_e2e, extract_flagship,
# dedup_substring_windows_rk) were as fast or faster at 2048 as at 10 000
# rows on sf 0.05 and sf 0.4 tables.
ARROW_BATCH_ROWS = 2048


def get_spark(
    master: str | None = None,
    app_name: str = "ocrautomator-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    n_cores = _master_cores(master, cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 4 * n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if worker_daemon_reachable(
        master,
        package_parent=os.path.dirname(os.path.dirname(os.path.abspath(ocrautomator_spark.__file__))),
        cwd=os.getcwd(),
        site_dirs=site.getsitepackages() + [site.getusersitepackages()],
        pythonpath=os.environ.get("PYTHONPATH", ""),
        via_submit="PYSPARK_GATEWAY_PORT" in os.environ,
    ):
        b = b.config("spark.python.daemon.module", worker_daemon.__name__)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def worker_daemon_reachable(
    master: str,
    package_parent: str,
    cwd: str,
    site_dirs: list[str],
    pythonpath: str,
    via_submit: bool,
) -> bool:
    """Whether Python workers can import ``worker_daemon`` when they start:
    a daemon that cannot import its module fails every Python stage. Only a
    ``local[...]`` master qualifies (a cluster executor may lack the package
    and site-packages pyspark). The daemon runs as ``python -m`` in the JVM's
    cwd with the JVM's ``PYTHONPATH``, so the package's parent directory must
    be the cwd, a site-packages dir, or on the ``PYTHONPATH`` a JVM launched
    from here inherits. Under spark-submit (``via_submit``) the JVM was
    started before this process, with an environment it cannot see, and the
    package may come from ``--py-files``, which workers only add per task:
    then only the cwd counts."""
    if not master.startswith("local["):
        return False
    parent = os.path.realpath(package_parent)
    dirs = [cwd]
    if not via_submit:
        dirs += site_dirs + [p for p in pythonpath.split(os.pathsep) if p]
    return any(os.path.realpath(d) == parent for d in dirs)


def _master_cores(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or default
        try:
            return int(inner)
        except ValueError:
            return default
    return default

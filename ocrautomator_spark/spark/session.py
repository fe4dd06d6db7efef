"""SparkSession builder with the engine's normative configuration.

Tuned for the sandbox (local[N] standing in for an N-executor cluster per the
driver's scaling protocol) but every knob is the one you'd set on a real
1000-executor cluster: AQE on (runtime coalescing + skew-join splitting),
Arrow batching sized so one batch of raw payloads fits comfortably in a
Python worker, UTC session timezone for deterministic timestamp semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch into a Python worker (every mapInArrow, mapInPandas
# and pandas_udf in the session). The extract job runs one mapInArrow task
# per core (extract_partitions), so each worker streams its whole share of a
# chunk, and its peak memory grows with the batch size. Peak Python PSS of
# the 80 000-turn perfbench backfill at local[2] on a 4-core box: 285 MB at
# 2048 rows, 299-302 MB at 4096, 317-322 MB at 10 000, walls the same within
# run-to-run noise. The Arrow/pandas headline queries (pipeline_e2e,
# extract_flagship, dedup_substring_windows_rk) were as fast or faster at
# 2048 as at 10 000 rows on sf 0.05 and sf 0.4 tables.
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
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


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

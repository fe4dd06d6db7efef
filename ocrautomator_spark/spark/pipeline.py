"""Checkpointed extraction pipeline — resume-file semantics, rebuilt (M3).

ocrAutomator records finished inputs in a resume file so a restarted run
skips them (SURVEY.md §2A A10). Here the input keyspace is hashed into
``n_buckets`` chunks; each chunk is one distributed extract job whose output
is committed atomically (data files first, manifest last). A restart lists
committed manifests and processes only the missing buckets — the anti-join
of input chunks against the resume state. On a 10^12-turn table this is the
standard chunked-backfill shape: thousands of independent append snapshots,
each individually retryable, none recomputed after a crash.

Per-chunk metrics (rows, chars, error count, batch latency) come from
``df.observe`` — Spark's accumulator path, i.e. zero extra actions — and are
persisted INTO the manifest: the rebuild of the reference's live stats
display (A13) as durable run metadata, next to the chunk's partition count
(``n_partitions``).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ocrautomator_spark.spark.extract_job import extract_partitions, run_extract
from ocrautomator_spark.spark.tableio import ParquetManifestIO

BUCKET_COL = "_bucket"


def bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _run_chunk(with_bucket: DataFrame, io: ParquetManifestIO, b: int, n_partitions: int, run_id: str) -> dict:
    chunk = with_bucket.filter(F.col(BUCKET_COL) == b).drop(BUCKET_COL)
    obs = Observation(f"extract_{run_id}_b{b}")
    ext = run_extract(chunk, n_partitions=n_partitions).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_chars_in").alias("chars_in"),
        F.sum("n_chars_out").alias("chars_out"),
        F.avg("batch_latency_ms").alias("avg_batch_latency_ms"),
        F.sum(F.when(F.col("payload_kind") == "error", 1).otherwise(0)).alias("errors"),
    )
    # the chunk's jobs carry run_pipeline:<run_id>:b<b>; the caller's
    # description comes back after
    sc = chunk.sparkSession.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"run_pipeline:{run_id}:b{b}")
    t0 = time.perf_counter()
    try:
        io.write_bucket_data(ext, b)            # the action; fills the observation
    finally:
        sc.setJobDescription(prior)
    wall = time.perf_counter() - t0
    stats = {
        k: (v if v is None else (int(v) if k in ("rows", "chars_in", "chars_out", "errors") else float(v)))
        for k, v in obs.get.items()
    }
    stats["wall_sec"] = round(wall, 3)
    stats["n_partitions"] = n_partitions
    return io.commit_bucket(b, run_id, stats)


def run_pipeline(
    input_df: DataFrame,
    io: ParquetManifestIO,
    n_buckets: int = 8,
    n_partitions: int | None = None,
    run_id: str | None = None,
    fail_after: int | None = None,  # test hook: simulate a crash mid-run
    max_concurrent: int = 1,
) -> list[dict]:
    """Extract ``input_df`` chunk-by-chunk with atomic per-chunk commits.

    Returns the manifests of chunks committed BY THIS CALL. Already-committed
    buckets are skipped (resume). Raises RuntimeError after ``fail_after``
    commits when the test hook is set.

    ``max_concurrent`` > 1 submits that many chunk jobs at once from driver
    threads (Spark's scheduler interleaves their tasks — FAIR pool on a real
    cluster); each chunk job runs under the caller's Spark local properties
    (job group, description, ``spark.scheduler.pool``) and job tags. Serial
    chunks leave executors idle during each job's tail; a small concurrency
    (2–4) keeps a 1000-executor cluster saturated while preserving the
    per-chunk commit/retry granularity.

    ``n_partitions`` (the Python stage's task count per chunk) defaults to
    ``extract_partitions(input_df)``, one task per core, computed once per
    run and recorded in every chunk's manifest.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    done = io.committed_buckets()
    with_bucket = input_df.withColumn(BUCKET_COL, bucket_of(n_buckets))
    todo = [b for b in range(n_buckets) if b not in done]
    n_partitions = n_partitions or extract_partitions(input_df)

    if max_concurrent <= 1:
        committed: list[dict] = []
        for b in todo:
            if fail_after is not None and len(committed) >= fail_after:
                raise RuntimeError(f"simulated crash after {fail_after} chunk commits")
            committed.append(_run_chunk(with_bucket, io, b, n_partitions, run_id))
        return committed

    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # pool threads start with no Spark local properties (pinned-thread
    # mode): the wrapper carries the caller's job group, description,
    # scheduler pool and job tags into every chunk job
    run_chunk = inheritable_thread_target(input_df.sparkSession)(_run_chunk)
    limit = len(todo) if fail_after is None else min(fail_after, len(todo))
    with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
        futures = [
            pool.submit(run_chunk, with_bucket, io, b, n_partitions, run_id)
            for b in todo[:limit]
        ]
        committed = [f.result() for f in futures]
    if fail_after is not None and len(todo) > fail_after:
        raise RuntimeError(f"simulated crash after {fail_after} chunk commits")
    return committed

"""Checkpointed extraction pipeline — resume-file semantics, rebuilt (M3).

ocrAutomator records finished inputs in a resume file so a restarted run
skips them (SURVEY.md §2A A10). Here the input keyspace is hashed into
``n_buckets`` chunks; each chunk is one distributed extract job whose output
is committed atomically (data files first, manifest last). A restart lists
committed manifests and processes only the missing buckets — the anti-join
of input chunks against the resume state. On a 10^12-turn table this is the
standard chunked-backfill shape: thousands of independent append snapshots,
each individually retryable, none recomputed after a crash.

Per-chunk metrics (rows, rows per payload kind, chars, error count, batch
latency) come from ``df.observe`` — Spark's accumulator path, i.e. zero
extra actions — and are persisted INTO the manifest: the rebuild of the
reference's live stats display (A13) as durable run metadata, next to the
chunk's partition count (``n_partitions``) and the number of chunks the run
kept in flight (``max_concurrent``).
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from itertools import islice

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ocrautomator_spark.kernel.types import PK_ERROR, PK_HTML, PK_MIXED, PK_PDF, PK_PLAIN
from ocrautomator_spark.spark.extract_job import extract_partitions, run_extract
from ocrautomator_spark.spark.tableio import ParquetManifestIO

BUCKET_COL = "_bucket"
PAYLOAD_KINDS = (PK_HTML, PK_PDF, PK_MIXED, PK_PLAIN, PK_ERROR)


def bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _run_chunk(
    with_bucket: DataFrame, io: ParquetManifestIO, b: int, n_partitions: int, run_id: str, max_concurrent: int
) -> dict:
    chunk = with_bucket.filter(F.col(BUCKET_COL) == b).drop(BUCKET_COL)
    obs = Observation(f"extract_{run_id}_b{b}")
    ext = run_extract(chunk, n_partitions=n_partitions).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_chars_in").alias("chars_in"),
        F.sum("n_chars_out").alias("chars_out"),
        F.avg("batch_latency_ms").alias("avg_batch_latency_ms"),
        F.sum(F.when(F.col("payload_kind") == "error", 1).otherwise(0)).alias("errors"),
        F.create_map(
            *(x for k in PAYLOAD_KINDS for x in (F.lit(k), F.count_if(F.col("payload_kind") == k)))
        ).alias("rows_by_kind"),
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
    metrics = dict(obs.get)
    by_kind = metrics.pop("rows_by_kind")
    stats = {
        k: (v if v is None else (int(v) if k in ("rows", "chars_in", "chars_out", "errors") else float(v)))
        for k, v in metrics.items()
    }
    stats["rows_by_kind"] = {k: int(by_kind[k]) for k in PAYLOAD_KINDS}
    stats["wall_sec"] = round(wall, 3)
    stats["n_partitions"] = n_partitions
    stats["max_concurrent"] = max_concurrent
    return io.commit_bucket(b, run_id, stats)


def run_pipeline(
    input_df: DataFrame,
    io: ParquetManifestIO,
    n_buckets: int = 8,
    n_partitions: int | None = None,
    run_id: str | None = None,
    max_concurrent: int = 2,
) -> list[dict]:
    """Extract ``input_df`` chunk-by-chunk with atomic per-chunk commits.

    Returns the manifests of chunks committed BY THIS CALL, in bucket order.
    Already-committed buckets are skipped (resume).

    Chunk jobs run from a pool of ``max_concurrent`` driver threads, and at
    most that many are in flight: a chunk is submitted only when an earlier
    one has committed. The default of two double-buffers the run. One
    chunk's Python stage already has one task per core, so it fills every
    slot; the next chunk's job planning, input scan, salted exchange, AQE
    re-plan, observation fetch and commit then run in its gaps and tail
    instead of between the two. More than two pays only where a chunk's
    tasks do not fill the cluster (Spark's scheduler interleaves the jobs;
    FAIR pool on a real cluster). ``max_concurrent=1`` runs chunks one after
    another. Each chunk job runs under the caller's Spark local properties
    (job group, description, ``spark.scheduler.pool``) and job tags.

    On the first chunk error no further chunk starts; chunks already in
    flight finish and commit (each commit stays exactly-once), then that
    error is raised. A rerun resumes from what committed.

    ``n_partitions`` (the Python stage's task count per chunk) defaults to
    ``extract_partitions(input_df)``, one task per core, computed once per
    run and recorded in every chunk's manifest with the window
    (``max_concurrent``). A manifest's ``wall_sec`` overlaps its neighbours'
    when the window is above one, so summed chunk walls overstate the run.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    done = io.committed_buckets()
    with_bucket = input_df.withColumn(BUCKET_COL, bucket_of(n_buckets))
    todo = (b for b in range(n_buckets) if b not in done)
    n_partitions = n_partitions or extract_partitions(input_df)
    committed: dict[int, dict] = {}

    # pool threads start with no Spark local properties (pinned-thread
    # mode): the wrapper carries the caller's job group, description,
    # scheduler pool and job tags into every chunk job. Wrap per chunk: each
    # wrap clones the properties once and installs that same object in the
    # thread it runs on, so one shared wrap lets a chunk's description
    # overwrite its neighbour's
    def submit(pool: ThreadPoolExecutor, b: int) -> Future:
        chunk = inheritable_thread_target(input_df.sparkSession)(_run_chunk)
        return pool.submit(chunk, with_bucket, io, b, n_partitions, run_id, max_concurrent)

    # submit as the window frees, not all up front: no chunk waits in the
    # pool's queue, so none starts after a failure has been seen, and leaving
    # the block on an error waits only for the chunks in flight
    with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
        running = {submit(pool, b): b for b in islice(todo, max_concurrent)}
        while running:
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for f in finished:
                committed[running.pop(f)] = f.result()
            running.update({submit(pool, b): b for b in islice(todo, len(finished))})
    return [committed[b] for b in sorted(committed)]

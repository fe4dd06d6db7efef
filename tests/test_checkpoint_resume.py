"""M3 — checkpoint/resume property: resume ≡ fresh (SURVEY.md §5.4c).

Crash after k of n chunk commits, resume, and the final table must equal an
uninterrupted run's — no missing turns, no duplicates, no recomputation of
committed chunks (verified via run_id provenance in the manifests).
"""

from __future__ import annotations

import threading

import pytest

from ocrautomator_spark import submit
from ocrautomator_spark.spark import session
from ocrautomator_spark.spark.pipeline import run_pipeline
from ocrautomator_spark.spark.synth_job import synth_transcripts_df
from ocrautomator_spark.spark.tableio import ParquetManifestIO

N_CONVS = 30
N_BUCKETS = 6


def _sorted_rows(df):
    return [
        (r["conv_id"], r["turn_idx"], r["extracted_text"], tuple((s["start"], s["end"], s["kind"]) for s in r["spans"]))
        for r in df.select("conv_id", "turn_idx", "extracted_text", "spans")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]


class _CrashOnThirdCommit(ParquetManifestIO):
    """Dies in its third ``commit_bucket``, after that chunk's data files
    are written and before its manifest lands. The count is locked: chunks
    in flight together commit from different threads."""

    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.commits = 0
        self.lock = threading.Lock()

    def commit_bucket(self, bucket, run_id, stats=None):
        with self.lock:
            self.commits += 1
            crash = self.commits == 3
        if crash:
            raise RuntimeError(f"simulated crash before committing bucket {bucket}")
        return super().commit_bucket(bucket, run_id, stats)


class _FailBucketZero(ParquetManifestIO):
    """``commit_bucket`` raises for bucket 0. Every other chunk's data write
    waits until that has happened, so the chunks in flight at the failure
    are exactly the window's first ones."""

    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.failed = threading.Event()

    def write_bucket_data(self, df, bucket: int) -> str:
        if bucket != 0:
            self.failed.wait(timeout=120)
        return super().write_bucket_data(df, bucket)

    def commit_bucket(self, bucket, run_id, stats=None):
        if bucket == 0:
            self.failed.set()
            raise RuntimeError("simulated failure committing bucket 0")
        return super().commit_bucket(bucket, run_id, stats)


def test_submit_without_input_fails_before_starting_spark(monkeypatch, tmp_path):
    """Neither --input nor --synth-convs is an argparse error (exit 2) raised
    before any JVM starts, so no session is left unstopped."""

    def no_spark(*args, **kwargs):
        raise AssertionError("get_spark called before the arguments were validated")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        submit.main(["--output", str(tmp_path / "out")])
    assert exc.value.code == 2


def test_submit_window_below_one_fails_before_starting_spark(monkeypatch, tmp_path):
    def no_spark(*args, **kwargs):
        raise AssertionError("get_spark called before the arguments were validated")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        submit.main(["--output", str(tmp_path / "out"), "--synth-convs", "5", "--concurrency", "0"])
    assert exc.value.code == 2


def test_resume_equals_fresh(spark, tmp_path):
    inp = synth_transcripts_df(spark, N_CONVS)

    fresh_io = ParquetManifestIO(str(tmp_path / "fresh"))
    manifests = run_pipeline(inp, fresh_io, n_buckets=N_BUCKETS, n_partitions=4, run_id="fresh")
    assert len(manifests) == N_BUCKETS
    fresh_rows = _sorted_rows(fresh_io.read(spark))
    assert len(fresh_rows) == inp.count()

    # crashed run: commits 2 chunks, writes the third chunk's data, then dies
    # before its manifest lands
    crash_io = _CrashOnThirdCommit(str(tmp_path / "crash"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(inp, crash_io, n_buckets=N_BUCKETS, n_partitions=4, run_id="run1", max_concurrent=1)
    done = crash_io.committed_buckets()
    assert len(done) == 2
    (orphan,) = [d for d in crash_io.data_dir.iterdir() if int(d.name.split("=")[1]) not in done]
    orphan_files = {f.name for f in orphan.glob("*.parquet")}
    assert orphan_files

    # resume: only the missing 4 chunks run, under a new run_id
    resume_io = ParquetManifestIO(str(tmp_path / "crash"))
    resumed = run_pipeline(inp, resume_io, n_buckets=N_BUCKETS, n_partitions=4, run_id="run2", max_concurrent=1)
    assert len(resumed) == N_BUCKETS - 2
    assert {m["run_id"] for m in resumed} == {"run2"}
    by_run = {m["run_id"] for m in resume_io.manifests()}
    assert by_run == {"run1", "run2"}, "committed chunks must NOT be recomputed"
    # the orphaned, uncommitted directory is overwritten, not appended to
    assert str(orphan) in {m["path"] for m in resumed}
    assert orphan_files.isdisjoint(f.name for f in orphan.glob("*.parquet"))

    assert _sorted_rows(resume_io.read(spark)) == fresh_rows


def test_resume_equals_fresh_with_chunks_in_flight(spark, tmp_path):
    """The crash contract at the default window: the chunk in flight beside
    the crashed one may still commit, so the crash leaves at least two
    buckets committed; the resume commits exactly the rest, recomputes none
    of them, and the rows equal a fresh run's."""
    inp = synth_transcripts_df(spark, N_CONVS)
    fresh_io = ParquetManifestIO(str(tmp_path / "fresh"))
    run_pipeline(inp, fresh_io, n_buckets=N_BUCKETS, n_partitions=4, run_id="fresh")

    crash_io = _CrashOnThirdCommit(str(tmp_path / "crash"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(inp, crash_io, n_buckets=N_BUCKETS, n_partitions=4, run_id="run1")
    done = crash_io.committed_buckets()
    assert 2 <= len(done) < N_BUCKETS

    resume_io = ParquetManifestIO(str(tmp_path / "crash"))
    resumed = run_pipeline(inp, resume_io, n_buckets=N_BUCKETS, n_partitions=4, run_id="run2")
    resumed_buckets = [m["bucket"] for m in resumed]
    assert len(resumed_buckets) == len(set(resumed_buckets)), "a bucket committed twice"
    assert done.isdisjoint(resumed_buckets), "committed chunks must NOT be recomputed"
    assert done | set(resumed_buckets) == set(range(N_BUCKETS))
    by_bucket = {m["bucket"]: m["run_id"] for m in resume_io.manifests()}
    assert by_bucket == {b: ("run1" if b in done else "run2") for b in range(N_BUCKETS)}

    assert _sorted_rows(resume_io.read(spark)) == _sorted_rows(fresh_io.read(spark))


def test_chunk_error_stops_the_run(spark, tmp_path):
    """At the default window, a chunk error starts no further chunk: only
    the chunk in flight beside it is written (and commits), the error is
    raised, and a resume commits the rest with a fresh run's rows."""
    n_buckets = 8
    inp = synth_transcripts_df(spark, N_CONVS)
    io = _FailBucketZero(str(tmp_path / "fail"))
    with pytest.raises(RuntimeError, match="committing bucket 0"):
        run_pipeline(inp, io, n_buckets=n_buckets, n_partitions=2, run_id="run1")
    written = {int(d.name.split("=")[1]) for d in io.data_dir.iterdir()}
    assert written <= {0, 1}, f"chunks started after the failure: {sorted(written - {0, 1})}"
    done = io.committed_buckets()
    assert done == written - {0}

    resume_io = ParquetManifestIO(str(tmp_path / "fail"))
    resumed = run_pipeline(inp, resume_io, n_buckets=n_buckets, n_partitions=2, run_id="run2")
    assert [m["bucket"] for m in resumed] == sorted(set(range(n_buckets)) - done)
    fresh_io = ParquetManifestIO(str(tmp_path / "fresh"))
    run_pipeline(inp, fresh_io, n_buckets=n_buckets, n_partitions=2, run_id="fresh")
    assert _sorted_rows(resume_io.read(spark)) == _sorted_rows(fresh_io.read(spark))


def test_manifest_metrics_and_lineage(spark, tmp_path):
    inp = synth_transcripts_df(spark, 10)
    io = ParquetManifestIO(str(tmp_path / "m"))
    manifests = run_pipeline(inp, io, n_buckets=3, n_partitions=2, run_id="r")
    total_rows = sum(int(m["rows"]) for m in manifests)
    assert total_rows == inp.count()
    kinds = {"html", "pdf_layout", "mixed_markup", "plain", "error"}
    for m in manifests:
        assert m["chars_out"] > 0
        assert m["errors"] == 0
        assert m["avg_batch_latency_ms"] > 0
        assert m["wall_sec"] > 0
        assert m["max_concurrent"] == 2
        # rows per payload kind: every kind keyed, summing to rows
        assert set(m["rows_by_kind"]) == kinds
        assert sum(m["rows_by_kind"].values()) == m["rows"]
        assert m["rows_by_kind"]["error"] == m["errors"]
    assert all(sum(m["rows_by_kind"][k] for m in manifests) > 0 for k in kinds - {"error"})
    # lineage columns present on every output row
    out = io.read(spark)
    cols = set(out.columns)
    assert {"extractor_version", "partition_id", "batch_latency_ms", "n_chars_in", "n_chars_out"} <= cols


def test_partition_count_does_not_change_output(spark, tmp_path):
    """The default count (one per core) and an explicit odd count produce
    the same rows, every output file is ordered by (conv_id, turn_idx), and
    each manifest records the count that ran."""
    import pathlib

    import pyarrow.parquet as pq

    src = str(tmp_path / "in")
    synth_transcripts_df(spark, 24).write.parquet(src)
    inp = spark.read.parquet(src)
    results = {}
    for label, n_partitions, expect in (("default", None, spark.sparkContext.defaultParallelism), ("seven", 7, 7)):
        io = ParquetManifestIO(str(tmp_path / label))
        manifests = run_pipeline(inp, io, n_buckets=3, n_partitions=n_partitions, run_id=label)
        assert [m["n_partitions"] for m in manifests] == [expect] * 3
        for m in manifests:
            for f in pathlib.Path(m["path"]).glob("*.parquet"):
                keys = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pylist()
                keys = [(k["conv_id"], k["turn_idx"]) for k in keys]
                assert keys == sorted(keys), f"{f} not ordered by (conv_id, turn_idx)"
        results[label] = sorted(
            (r["conv_id"], r["turn_idx"], r["payload_kind"], r["extracted_text"],
             tuple((s["start"], s["end"], s["kind"]) for s in r["spans"]))
            for r in io.read(spark).collect()
        )
    assert results["default"] == results["seven"]
    assert len(results["default"]) == inp.count()


def test_torn_manifest_is_not_committed(tmp_path):
    io = ParquetManifestIO(str(tmp_path / "t"))
    (io.manifest_dir / "bucket-00001.json").write_text('{"bucke')  # torn write
    assert io.committed_buckets() == set()


def test_corrupt_manifest_is_recomputed_on_resume(spark, tmp_path):
    """A corrupt manifest is "not committed" to resume AND to the commit
    path: the resume recomputes that bucket and finishes with every row."""
    inp = synth_transcripts_df(spark, 12)
    io = ParquetManifestIO(str(tmp_path / "c"))
    run_pipeline(inp, io, n_buckets=3, n_partitions=2, run_id="r1")
    (io.manifest_dir / "bucket-00000.json").write_text('{"bucke')  # torn write
    assert io.committed_buckets() == {1, 2}
    resumed = run_pipeline(inp, io, n_buckets=3, n_partitions=2, run_id="r2")
    assert [m["bucket"] for m in resumed] == [0]
    assert io.committed_buckets() == {0, 1, 2}
    assert io.read(spark).count() == inp.count()


def test_pathless_manifest_is_not_committed(spark, tmp_path):
    """A manifest without a data path is invisible to read(), so resume must
    not count it either: the bucket is recomputed, no rows go missing."""
    inp = synth_transcripts_df(spark, 12)
    io = ParquetManifestIO(str(tmp_path / "p"))
    run_pipeline(inp, io, n_buckets=3, n_partitions=2, run_id="r1")
    (io.manifest_dir / "bucket-00001.json").write_text('{"bucket": 1}')
    assert io.committed_buckets() == {0, 2}
    assert io.bucket_manifest(1) is None
    resumed = run_pipeline(inp, io, n_buckets=3, n_partitions=2, run_id="r2")
    assert [m["bucket"] for m in resumed] == [1]
    assert io.read(spark).count() == inp.count()


def test_concurrent_chunks_keep_caller_job_group(spark, tmp_path):
    """Chunk jobs submitted from pool threads run under the caller's Spark
    local properties, so its job group (and scheduler pool) applies."""
    sc = spark.sparkContext
    group = "concurrent-chunks-group"
    inp = synth_transcripts_df(spark, 12)
    sc.setJobGroup(group, "concurrent chunks")
    try:
        run_pipeline(
            inp, ParquetManifestIO(str(tmp_path / "g")), n_buckets=3, n_partitions=2, run_id="g", max_concurrent=2
        )
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(jobs) >= 3, f"chunk jobs ran outside the caller's job group: {jobs}"


class _DescriptionIO(ParquetManifestIO):
    """Records the job description each chunk's data write runs under. With
    ``overlap`` > 1, the first ``overlap`` chunks read it only once all of
    them have set theirs, so concurrent chunks that shared one set of local
    properties would see each other's label."""

    def __init__(self, root: str, spark, overlap: int = 1, timeout: float = 120) -> None:
        super().__init__(root)
        self.sc = spark.sparkContext
        self.seen: dict[int, str | None] = {}
        self.barrier = threading.Barrier(overlap, timeout=timeout) if overlap > 1 else None

    def write_bucket_data(self, df, bucket: int) -> str:
        if self.barrier is not None and bucket < self.barrier.parties:
            self.barrier.wait()
        self.seen[bucket] = self.sc.getLocalProperty("spark.job.description")
        return super().write_bucket_data(df, bucket)


@pytest.mark.parametrize("max_concurrent", [1, 2])
def test_chunk_jobs_are_labelled(spark, tmp_path, max_concurrent):
    """Each chunk's jobs run under ``run_pipeline:<run_id>:b<bucket>``, on the
    serial and the concurrent path, and the caller's description is back
    afterwards."""
    sc = spark.sparkContext
    io = _DescriptionIO(str(tmp_path / "lbl"), spark, overlap=max_concurrent)
    sc.setJobDescription("caller")
    try:
        run_pipeline(
            synth_transcripts_df(spark, 12), io, n_buckets=3, n_partitions=2, run_id="lbl", max_concurrent=max_concurrent
        )
        after = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setJobDescription(None)
    assert io.seen == {b: f"run_pipeline:lbl:b{b}" for b in range(3)}
    assert after == "caller"


def test_default_keeps_two_chunks_in_flight(spark, tmp_path):
    """Without ``max_concurrent``, the first two chunks reach their data
    write together (a serial run would time out the barrier)."""
    io = _DescriptionIO(str(tmp_path / "dflt"), spark, overlap=2, timeout=30)
    manifests = run_pipeline(synth_transcripts_df(spark, 12), io, n_buckets=3, n_partitions=2, run_id="dflt")
    assert [m["bucket"] for m in manifests] == [0, 1, 2]
    assert io.seen == {b: f"run_pipeline:dflt:b{b}" for b in range(3)}


def test_concurrent_chunks_equal_serial(spark, tmp_path):
    """max_concurrent>1 (driver threads submitting chunk jobs in parallel)
    must produce exactly the serial pipeline's output and manifests."""
    inp = synth_transcripts_df(spark, 18)
    serial_io = ParquetManifestIO(str(tmp_path / "ser"))
    run_pipeline(inp, serial_io, n_buckets=4, n_partitions=4, run_id="s", max_concurrent=1)
    conc_io = ParquetManifestIO(str(tmp_path / "con"))
    manifests = run_pipeline(inp, conc_io, n_buckets=4, n_partitions=4, run_id="c", max_concurrent=3)
    assert len(manifests) == 4
    assert _sorted_rows(conc_io.read(spark)) == _sorted_rows(serial_io.read(spark))
    assert sum(int(m["rows"]) for m in manifests) == inp.count()


def test_compaction_preserves_data_and_resume(spark, tmp_path):
    """Full maintenance cycle: ingest chunked output, compact every bucket
    to one file (atomic generation swap), GC the superseded generations —
    data must be byte-equal before/after, file counts must actually drop,
    and a resumed run must still see every bucket committed (no recompute
    after maintenance)."""
    import pathlib

    io = ParquetManifestIO(str(tmp_path / "store"))
    df = synth_transcripts_df(spark, 40, n_partitions=8)
    run_pipeline(df, io, n_buckets=4, run_id="r1")
    before = _sorted_rows(io.read(spark))
    files_before = {
        m["bucket"]: len(list(pathlib.Path(m["path"]).glob("*.parquet")))
        for m in io.manifests()
    }
    assert all(n > 1 for n in files_before.values()), files_before

    manifests = [io.compact_bucket(spark, b, "rc") for b in range(4)]
    assert io.gc_orphans() == []  # grace window: fresh dirs are never GC'd
    # retained snapshots pin the pre-compaction generations (time travel
    # stays valid); only after expiring history do they become orphans
    assert io.gc_orphans(older_than=0) == []
    io.expire_snapshots(keep_last=1)
    removed = io.gc_orphans(older_than=0)
    assert len(removed) == 4, removed  # the four pre-compaction generations
    assert all(m["files_after"] == 1 for m in manifests)
    assert all(m["files_before"] == files_before[m["bucket"]] for m in manifests)
    assert _sorted_rows(io.read(spark)) == before

    # resume after maintenance: nothing recomputes
    again = run_pipeline(df, io, n_buckets=4, run_id="r2")
    assert again == []
    assert _sorted_rows(io.read(spark)) == before


def test_maintenance_edge_cases(spark, tmp_path):
    """Maintenance API contracts: compacting an uncommitted bucket raises
    (never silently invents a manifest); reading an empty store raises;
    re-compaction increments the generation and stays byte-identical; GC on
    a clean store removes nothing."""
    import pytest as _pytest

    io = ParquetManifestIO(str(tmp_path / "store"))
    with _pytest.raises(FileNotFoundError):
        io.read(spark)
    with _pytest.raises(FileNotFoundError):
        io.compact_bucket(spark, 3, "rc")

    df = synth_transcripts_df(spark, 10, n_partitions=4)
    run_pipeline(df, io, n_buckets=2, run_id="r1")
    before = _sorted_rows(io.read(spark))
    m1 = io.compact_bucket(spark, 0, "rc1")
    m2 = io.compact_bucket(spark, 0, "rc2")
    assert (m1["gen"], m2["gen"]) == (1, 2)
    io.expire_snapshots(keep_last=1)
    removed = io.gc_orphans(older_than=0)
    assert len(removed) == 2  # gen-0 dir + gen-1 dir of bucket 0
    assert io.gc_orphans(older_than=0) == []  # idempotent on a clean store
    assert _sorted_rows(io.read(spark)) == before


# ------------------------------------------------- snapshot history / time travel

def test_snapshot_time_travel_and_append_only_rewrites(spark, tmp_path):
    """Every commit appends a snapshot; a rewrite of a committed bucket goes
    to a NEW generation directory, so time travel to the pre-rewrite
    snapshot returns the ORIGINAL rows byte-for-byte; expire + GC makes the
    old snapshot unreadable (never silently stale) while the current view
    is untouched."""
    io = ParquetManifestIO(str(tmp_path / "store"))
    df1 = spark.range(0, 100).withColumnRenamed("id", "v")
    df2 = spark.range(100, 150).withColumnRenamed("id", "v")
    io.write_bucket(df1, 0, "r1")   # snapshot 1
    io.write_bucket(df2, 1, "r1")   # snapshot 2
    assert [s["snapshot_id"] for s in io.snapshots()] == [1, 2]
    assert [s["op"] for s in io.snapshots()] == ["append", "append"]

    # delete-rewrite bucket 0: drop even values  -> snapshot 3, new gen dir
    io.write_bucket(df1.filter("v % 2 = 1"), 0, "r2")
    s3 = io.snapshots()[-1]
    assert s3["snapshot_id"] == 3
    assert s3["state"]["0"].endswith(".g1"), s3["state"]
    assert io.snapshots()[0]["state"]["0"] != s3["state"]["0"]  # old files untouched

    vals = lambda df: sorted(r["v"] for r in df.collect())  # noqa: E731
    assert vals(io.read_snapshot(spark, 2)) == list(range(150))          # original
    assert vals(io.read(spark)) == [v for v in range(150) if v >= 100 or v % 2 == 1]
    assert vals(io.read_snapshot(spark, 3)) == vals(io.read(spark))

    assert io.expire_snapshots(keep_last=1) == 2
    removed = io.gc_orphans(older_than=0)
    assert any(p.endswith("bucket=00000") for p in removed), removed  # old gen freed
    with pytest.raises(FileNotFoundError):
        io.read_snapshot(spark, 2)
    assert vals(io.read(spark)) == [v for v in range(150) if v >= 100 or v % 2 == 1]


def test_snapshot_log_torn_tail_and_manifest_truth(spark, tmp_path):
    """A torn (half-written) snapshot-log line is skipped, never a crash,
    and the next commit numbers past the retained entries; a crash BETWEEN
    manifest rename and log append leaves read() (manifest truth) correct
    even though the history entry is missing."""
    io = ParquetManifestIO(str(tmp_path / "store"))
    io.write_bucket(spark.range(10), 0, "r1")
    with open(io._snapshot_log_path(), "a") as f:
        f.write('{"snapshot_id": 99, "state"')  # torn append from a crash
    assert [s["snapshot_id"] for s in io.snapshots()] == [1]
    io.write_bucket(spark.range(10, 20), 1, "r1")
    assert [s["snapshot_id"] for s in io.snapshots()] == [1, 2]

    # crash between manifest rename and history append: drop the log line
    lines = io._snapshot_log_path().read_text().splitlines(keepends=True)
    io._snapshot_log_path().write_text("".join(l for l in lines if '"snapshot_id": 2' not in l))
    assert [s["snapshot_id"] for s in io.snapshots()] == [1]
    assert sorted(r["id"] for r in io.read(spark).collect()) == list(range(20))


def test_snapshot_log_concurrent_commits_unique_ids(spark, tmp_path):
    """Concurrent commit_bucket calls through one store instance (the
    run_pipeline max_concurrent / submit --concurrency path) must yield
    strictly unique, gap-free snapshot ids — the read-modify-append on the
    shared log is serialized by the instance lock."""
    from concurrent.futures import ThreadPoolExecutor

    io = ParquetManifestIO(str(tmp_path / "store"))
    df = spark.range(5)
    for b in range(16):
        io.write_bucket_data(df, b)
    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(lambda b: io.commit_bucket(b, "rc"), range(16)))
    ids = [s["snapshot_id"] for s in io.snapshots()]
    assert ids == list(range(1, 17)), ids


def test_snapshot_ids_never_reused_after_full_expiry(spark, tmp_path):
    """ADVICE r6: expire_snapshots floors keep_last at 1 so the id
    high-water mark survives — a reader holding an expired id must get
    FileNotFoundError, never a silently different snapshot's state."""
    import pytest

    io = ParquetManifestIO(str(tmp_path / "store"))
    for b in range(3):
        io.write_bucket(spark.range(b * 10, b * 10 + 10), b, "r1")
    assert [s["snapshot_id"] for s in io.snapshots()] == [1, 2, 3]
    expired = io.expire_snapshots(keep_last=0)  # floored to 1
    assert expired == 2
    assert [s["snapshot_id"] for s in io.snapshots()] == [3]
    io.write_bucket(spark.range(100, 110), 3, "r1")
    assert [s["snapshot_id"] for s in io.snapshots()] == [3, 4]
    with pytest.raises(FileNotFoundError):
        io.read_snapshot(spark, 1)


def test_snapshot_log_garbage_typed_line_never_breaks_commits(spark, tmp_path):
    """ADVICE r6: a valid-JSON log line whose snapshot_id is a string (or
    state a non-dict) is rejected like a torn line — the next commit's
    last_id+1 must not raise on it."""
    io = ParquetManifestIO(str(tmp_path / "store"))
    io.write_bucket(spark.range(10), 0, "r1")
    with open(io._snapshot_log_path(), "a") as f:
        f.write('{"snapshot_id": "7", "state": {}}\n')
        f.write('{"snapshot_id": 8, "state": "oops"}\n')
    assert [s["snapshot_id"] for s in io.snapshots()] == [1]
    io.write_bucket(spark.range(10, 20), 1, "r1")  # must not raise
    assert [s["snapshot_id"] for s in io.snapshots()] == [1, 2]


def test_snapshot_lock_shared_across_instances_same_root(spark, tmp_path):
    """ADVICE r6: two ParquetManifestIO objects over the SAME root (the
    streaming helpers construct their own) share one snapshot-log lock —
    concurrent commits through different instances still yield unique,
    gap-free ids."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "store")
    io_a = ParquetManifestIO(root)
    io_b = ParquetManifestIO(root)
    assert io_a._snap_lock is io_b._snap_lock
    df = spark.range(5)
    for b in range(12):
        (io_a if b % 2 == 0 else io_b).write_bucket_data(df, b)
    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(lambda b: (io_a if b % 2 == 0 else io_b).commit_bucket(b, "rc"), range(12)))
    ids = [s["snapshot_id"] for s in io_a.snapshots()]
    assert ids == list(range(1, 13)), ids

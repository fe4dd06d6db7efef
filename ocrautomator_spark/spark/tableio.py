"""TableIO — the storage seam (SURVEY.md §0 'Iceberg gap', §7 M3).

All checkpoint/resume logic is written against ``ParquetManifestIO``, which
emulates Iceberg's snapshot/manifest semantics with plain parquet: each
committed chunk is a parquet directory plus an atomic JSON manifest (write
tmp + ``os.replace``), the moral equivalent of one Iceberg append snapshot.
This is the columnar rebuild of ocrAutomator's resume file (SURVEY.md §2A
A10): the manifest set IS the resume state. README.md maps each method onto
the Iceberg call that replaces it where an Iceberg catalog is available.
"""

from __future__ import annotations

import json
import os
import pathlib
import threading
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# one snapshot-log lock per resolved store root (see ParquetManifestIO.__init__)
_SNAP_LOCKS: dict[str, Any] = {}
_SNAP_LOCKS_GUARD = threading.Lock()


def _load_manifest(p: pathlib.Path) -> dict[str, Any] | None:
    """The ONE manifest validity rule: a manifest is committed iff it parses
    to an object with an int ``bucket`` and a ``path``. Anything else — a
    torn write, a path-less or hand-edited file — is "not committed":
    skipped by readers and resume alike, never a crash, so a resume
    recomputes the bucket instead of skipping rows no reader can see."""
    try:
        m = json.loads(p.read_text())
    except (FileNotFoundError, ValueError):  # no manifest, or a torn write
        return None
    if not isinstance(m, dict) or type(m.get("bucket")) is not int or "path" not in m:
        return None
    return m


class ParquetManifestIO:
    """Parquet data + atomic per-chunk JSON manifests under one root dir."""

    def __init__(self, root: str) -> None:
        self.root = pathlib.Path(root)
        self.data_dir = self.root / "data"
        self.manifest_dir = self.root / "_manifests"
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        # serializes the snapshot log's read-modify-append: per-bucket
        # manifests are disjoint files (commit_bucket was thread-safe before
        # the shared log existed), but concurrent commits would otherwise
        # both read last_id and append duplicate snapshot ids. Keyed on the
        # RESOLVED root in a module-level registry (ADVICE r6): streaming
        # helpers construct their own ParquetManifestIO over a caller's
        # root, so two instances in one process must share the lock.
        # Cross-PROCESS writers are out of scope, as for the manifests.
        key = str(self.root.resolve())
        with _SNAP_LOCKS_GUARD:
            self._snap_lock = _SNAP_LOCKS.setdefault(key, threading.Lock())

    # -- resume state (A10) --
    def committed_buckets(self) -> set[int]:
        return {m["bucket"] for m in self.manifests()}

    def bucket_manifest(self, bucket: int) -> dict[str, Any] | None:
        return _load_manifest(self._manifest_path(bucket))

    def _manifest_path(self, bucket: int) -> pathlib.Path:
        return self.manifest_dir / f"bucket-{bucket:05d}.json"

    def _write_manifest(self, manifest: dict[str, Any]) -> None:
        final = self._manifest_path(manifest["bucket"])
        tmp = final.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, final)  # atomic on POSIX: a manifest is all-or-nothing

    # -- commit protocol: data first, manifest last, manifest rename atomic --
    def _next_path(self, bucket: int) -> tuple[str, int]:
        """Target directory + generation for the NEXT write of ``bucket``.
        Committed data is immutable (Iceberg's file contract): a rewrite of
        an already-committed bucket lands in a fresh generation directory,
        never over the committed bytes — so a crash mid-rewrite can't tear
        the committed generation, and older snapshots keep reading the
        original files. Derived from the committed manifest, so the retry
        of an UNCOMMITTED write resolves to the same directory (idempotent
        overwrite)."""
        m = self.bucket_manifest(bucket)
        if m is None:
            return str(self.data_dir / f"bucket={bucket:05d}"), 0
        gen = int(m.get("gen", 0)) + 1
        return str(self.data_dir / f"bucket={bucket:05d}.g{gen}"), gen

    def write_bucket_data(self, df: DataFrame, bucket: int) -> str:
        """Write a chunk's data files. NOT yet committed: until commit_bucket
        lands the manifest, a restart treats this bucket as not done and the
        mode=overwrite write makes the retry idempotent. Rewrites of a
        committed bucket go to a new generation directory (_next_path)."""
        path, _ = self._next_path(bucket)
        df.write.mode("overwrite").parquet(path)
        return path

    def commit_bucket(self, bucket: int, run_id: str, stats: dict[str, Any] | None = None) -> dict[str, Any]:
        path, gen = self._next_path(bucket)
        manifest = {
            "bucket": bucket,
            "run_id": run_id,
            "path": path,
            "gen": gen,
            "committed_at": time.time(),
            **(stats or {}),
        }
        self._write_manifest(manifest)
        self._append_snapshot("append", bucket)
        return manifest

    def write_bucket(self, df: DataFrame, bucket: int, run_id: str, stats: dict[str, Any] | None = None) -> None:
        self.write_bucket_data(df, bucket)
        self.commit_bucket(bucket, run_id, stats)

    def read(self, spark: SparkSession) -> DataFrame:
        # paths come from the MANIFESTS (not reconstructed from bucket ids):
        # compaction redirects a bucket to its new-generation directory by
        # atomically swapping the manifest, and readers must follow it
        paths = [m["path"] for m in self.manifests()]
        if not paths:
            raise FileNotFoundError(f"no committed buckets under {self.root}")
        return spark.read.parquet(*paths)

    def manifests(self) -> list[dict[str, Any]]:
        """Every committed manifest, by bucket — read(), resume, compaction
        and GC all see the same set (``_load_manifest``)."""
        loaded = (_load_manifest(p) for p in self.manifest_dir.glob("bucket-*.json"))
        return sorted((m for m in loaded if m is not None), key=lambda m: m["bucket"])

    # -- maintenance: small-file compaction + orphan GC (the Iceberg
    # rewrite_data_files / expire_snapshots + remove_orphan_files pair) --
    def compact_bucket(
        self, spark: SparkSession, bucket: int, run_id: str, target_files: int = 1
    ) -> dict[str, Any]:
        """Rewrite one committed bucket's many small files as ``target_files``
        files. Same commit protocol as ingest: the compacted data lands in a
        NEW generation directory, then the manifest swaps to it atomically —
        a crash at any point leaves either the old or the new generation
        committed, never a mix, and the loser is an orphan for ``gc_orphans``.
        Row counts ride the same write via ``Observation`` (no extra job)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        m = self.bucket_manifest(bucket)
        if m is None:
            raise FileNotFoundError(f"bucket {bucket} has no committed manifest")
        old_path = pathlib.Path(m["path"])
        files_before = len(list(old_path.glob("*.parquet")))
        path, gen = self._next_path(bucket)
        obs = Observation(f"compact_{run_id}_b{bucket}")
        df = spark.read.parquet(str(old_path)).observe(obs, F.count(F.lit(1)).alias("rows"))
        df.coalesce(target_files).write.mode("overwrite").parquet(path)
        manifest = {
            **m,
            "path": path,
            "gen": gen,
            "run_id": run_id,
            "compacted_at": time.time(),
            "files_before": files_before,
            "files_after": len(list(pathlib.Path(path).glob("*.parquet"))),
            "rows": int(obs.get["rows"]),
        }
        self._write_manifest(manifest)  # readers atomically switch generations here
        self._append_snapshot("replace", bucket)
        return manifest

    # -- snapshot log: table history + time travel (the Iceberg snapshot
    # list / `VERSION AS OF` pair, rebuilt on the parquet twin) --
    def _snapshot_log_path(self) -> pathlib.Path:
        return self.manifest_dir / "_snapshots.jsonl"

    def snapshots(self) -> list[dict[str, Any]]:
        """Table history, oldest first. Same durability policy as
        committed_buckets(): an unparsable line (the torn tail of a crash
        mid-append) is skipped, never a crash — the snapshot log is derived
        history, the per-bucket manifests remain the commit source of
        truth."""
        p = self._snapshot_log_path()
        if not p.exists():
            return []
        out = []
        for line in p.read_text().splitlines():
            try:
                rec = json.loads(line)
                # type-checked, not just present (ADVICE r6): a valid-JSON
                # garbage line with a string/float snapshot_id would
                # otherwise make the NEXT commit's last_id+1 raise —
                # log garbage must never break commits
                if not isinstance(rec.get("snapshot_id"), int) or not isinstance(
                    rec.get("state"), dict
                ):
                    continue
            except (ValueError, KeyError, TypeError, json.JSONDecodeError):
                continue  # torn append never counts as a snapshot
            out.append(rec)
        return out

    def _append_snapshot(self, op: str, bucket: int) -> dict[str, Any]:
        """Record the post-commit table state (bucket → data path for every
        committed bucket) as one appended JSON line. Runs AFTER the manifest
        rename: a crash between the two leaves the manifests (truth) ahead
        of the log (history) — readers are unaffected, only the history
        entry is missing. The full-state-per-snapshot encoding is linear in
        bucket count per commit; the production backend is Iceberg, whose
        snapshot log shares manifest subtrees instead."""
        with self._snap_lock:
            snaps = self.snapshots()
            rec = {
                "snapshot_id": snaps[-1]["snapshot_id"] + 1 if snaps else 1,
                "op": op,
                "bucket": bucket,
                "ts": time.time(),
                "state": {str(m["bucket"]): m["path"] for m in self.manifests()},
            }
            p = self._snapshot_log_path()
            with open(p, "ab") as f:
                # newline-guard: a torn tail from a crashed append has no
                # "\n"; writing straight after it would corrupt THIS record
                # too. One leading newline isolates the garbage to its own
                # (skipped) line.
                if f.tell() > 0:
                    with open(p, "rb") as r:
                        r.seek(-1, 2)
                        if r.read(1) != b"\n":
                            f.write(b"\n")
                f.write((json.dumps(rec) + "\n").encode())
        return rec

    def read_snapshot(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Time-travel read: the table exactly as of ``snapshot_id``
        (Iceberg ``VERSION AS OF``). Raises FileNotFoundError if the
        snapshot was expired or its data files were garbage-collected."""
        for rec in self.snapshots():
            if rec["snapshot_id"] == snapshot_id:
                paths = list(rec["state"].values())
                if not paths:
                    raise FileNotFoundError(f"snapshot {snapshot_id} is empty")
                missing = [p for p in paths if not pathlib.Path(p).exists()]
                if missing:
                    # the paths are absolute, so a relocated store root also
                    # lands here — say so instead of claiming expiry (ADVICE r6)
                    raise FileNotFoundError(
                        f"snapshot {snapshot_id}: missing data files (expired, "
                        f"garbage-collected, or store moved): {missing}"
                    )
                return spark.read.parquet(*paths)
        raise FileNotFoundError(f"no snapshot {snapshot_id} under {self.root}")

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop all but the newest ``keep_last`` history entries (Iceberg
        ``expire_snapshots``). The rewrite is atomic (tmp + os.replace).
        Returns the number of expired entries. Files referenced only by
        expired snapshots become GC-eligible — run gc_orphans() after.

        ``keep_last`` is floored at 1 (ADVICE r6): truncating the log to
        empty would restart snapshot ids at 1, and a reader holding an
        expired id could then silently resolve to a DIFFERENT snapshot's
        state instead of FileNotFoundError — ids must never be reused, so
        the newest entry always survives as the id high-water mark."""
        with self._snap_lock:
            snaps = self.snapshots()
            keep = snaps[-max(keep_last, 1):]
            p = self._snapshot_log_path()
            tmp = p.with_suffix(".jsonl.tmp")
            tmp.write_text("".join(json.dumps(r) + "\n" for r in keep))
            os.replace(tmp, p)
        return len(snaps) - len(keep)

    def gc_orphans(self, older_than: float = 300.0) -> list[str]:
        """Remove data directories referenced by NO manifest: uncommitted
        chunk writes from crashed runs and pre-compaction generations whose
        manifest has moved on. Readers are safe by the commit protocol
        (anything visible is manifest-referenced), but CONCURRENT WRITERS are
        not: a GC run between another writer's ``write_bucket_data`` and
        ``commit_bucket`` would delete in-flight data, after which the commit
        lands a manifest pointing at nothing. The ``older_than`` grace window
        (seconds; same idea as Iceberg ``remove_orphan_files(older_than =>
        ...)``, default 3 days there) protects in-flight writes: a directory
        whose newest mtime is within the window is skipped. Pass
        ``older_than=0`` only when no concurrent ingest can be running.
        Directories referenced by any RETAINED snapshot are pinned — exactly
        Iceberg's remove_orphan_files contract, where time travel stays
        valid until ``expire_snapshots`` releases the old generations — so
        the maintenance sequence is expire_snapshots() THEN gc_orphans().
        Returns the removed paths (the audit trail a production job logs)."""
        import shutil

        referenced = {m["path"] for m in self.manifests()}
        for rec in self.snapshots():
            referenced.update(rec["state"].values())
        now = time.time()
        removed = []
        for d in sorted(self.data_dir.glob("bucket=*")):
            if str(d) in referenced:
                continue
            try:
                newest = max(
                    (p.stat().st_mtime for p in d.rglob("*") if p.is_file()),
                    default=d.stat().st_mtime,
                )
            except OSError:
                continue  # raced with a writer/another GC: leave it alone
            if now - newest < older_than:
                continue  # possibly an in-flight uncommitted write
            shutil.rmtree(d, ignore_errors=True)
            removed.append(str(d))
        return removed


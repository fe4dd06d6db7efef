"""The benchmark's workloads, each driving one public entry point.

* ``backfill``: ``run_pipeline`` (bucketed chunks, manifest commits) into a
  fresh ``ParquetManifestIO`` over conversation-shaped transcripts.
* ``headline_queries``: a subset of ``bench.HEADLINE`` to a noop sink, each
  checked against its DuckDB oracle.

A workload makes its inputs, warms the session up, repeats its timed unit
until the measuring time is spent, and checks its outputs. In a traced run
it also turns spans and event-log stages into per-layer metrics.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import statistics
import time

import pyarrow.parquet as pq

from ocrautomator_spark.spark.tableio import ParquetManifestIO
from perfbench import checks, inputs
from perfbench.eventlog import StageRow, stage_wall_s
from perfbench.tracing import Tracer

# 2, not submit.py's default 16: each chunk costs ~1.7 s of fixed Spark
# overhead (a pipeline over 1 000 turns took as long as one over 20 000),
# and several whole pipelines must fit in a run. Two chunks still re-scan
# the input twice and pay the per-chunk overhead twice, which is the
# mechanism this workload exposes. 80 000 turns, not fewer, because a unit
# made almost only of that overhead (job hand-offs between the JVM and the
# Python workers) moved with the shared machine's load: run-to-run spread
# 0.18 of the median at 20 000 turns, 0.05 at 80 000.
BACKFILL_BUCKETS = 2
BACKFILL_TURNS = 80_000
# Large enough that each query's Spark stages, not its fixed per-query
# planning and job-submission cost, take most of its wall (the traced run
# reports that share as queries.<name>.stage_wall_share); small enough that
# a run fits the run budget.
HEADLINE_SF = 0.05
# The bench.HEADLINE queries that the open work items touch: the binned range
# join, the substring scan, and the pinned-count repartitions of the
# conversation and events modules. The full list does not fit the run budget:
# a fresh JVM needs ~40 s of runs before its sweep time settles.
HEADLINE_SUBSET = (
    "join_range_binned",
    "dedup_substring_windows",
    "conv_merge_runs",
    "events_sessionize",
)


def _repeat(unit, seconds: float) -> list[float]:
    """Call ``unit()``, which returns its wall, until ``seconds`` are spent:
    once when ``seconds`` is 0, else at least three times, so that the
    trimmed mean always has a unit left after dropping the fastest and
    the slowest."""
    walls: list[float] = []
    begin = time.perf_counter()
    while len(walls) < (3 if seconds > 0 else 1) or time.perf_counter() - begin < seconds:
        walls.append(unit())
    return walls


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_files(paths) -> list[pathlib.Path]:
    return sorted(p for d in paths for p in pathlib.Path(d).glob("*.parquet"))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _extract_stage_metrics(rows: list[StageRow]) -> dict[str, float]:
    """extract_job.* from the stages of extract jobs: the exchange is the
    stage that writes shuffle bytes, the Python stage the one that reads
    them (mapInArrow, sort and the parquet write run there)."""
    exch = [r for r in rows if r.shuffle_write_bytes > 0]
    py = [r for r in rows if r.shuffle_read_bytes > 0 and r.shuffle_write_bytes == 0]
    return {
        "extract_job.exchange.shuffle_write_bytes": sum(r.shuffle_write_bytes for r in exch),
        "extract_job.exchange.run_s": sum(r.run_s for r in exch),
        "extract_job.python_stage.run_s": sum(r.run_s for r in py),
        "extract_job.python_stage.task_skew": _median([r.task_skew for r in py if r.tasks > 1]),
        "extract_job.spill_bytes": sum(r.spill_bytes for r in rows),
        "extract_job.gc_s": sum(r.gc_s for r in rows),
    }


def _kind_counts(files: list[pathlib.Path]) -> dict[str, int]:
    import pyarrow.compute as pc

    counts: dict[str, int] = {}
    for f in files:
        vc = pc.value_counts(pq.read_table(f, columns=["payload_kind"]).column("payload_kind"))
        for item in vc.to_pylist():
            counts[item["values"]] = counts.get(item["values"], 0) + item["counts"]
    return counts


class Backfill:
    name = "backfill"

    def __init__(self, work: pathlib.Path, seed: int, nproc: int) -> None:
        self.work, self.seed, self.nproc = work, seed, nproc
        self.out_root = work / "out"
        self.input: inputs.InputSet | None = None
        self.last_out: list[pathlib.Path] = []

    def prepare(self) -> inputs.InputSet:
        self.input = inputs.transcripts(self.work / "cache", self.seed, BACKFILL_TURNS, n_files=2 * self.nproc)
        return self.input

    def warmup(self, spark) -> None:
        """One untimed unit, which pays the session's first-run costs
        (Python workers, class loading, code generation): the first pipeline
        of a session takes ~15-18 s, later ones ~5-6 s. The unit right after
        it is often still the slowest, which the trimmed mean drops."""
        self._pipeline(spark, Tracer(False), self.input.path)

    def input_table(self):
        return pq.read_table(self.input.path)

    def output_bytes(self) -> int:
        return sum(p.stat().st_size for p in _parquet_files(self.last_out))

    def e2e_extras(self, wall_s: float) -> dict[str, float]:
        return {
            "turns_per_s": self.input.rows / wall_s,
            "out_bytes_per_turn": self.output_bytes() / self.input.rows,
        }

    def describe(self) -> list[str]:
        return []

    def offline_layers(self) -> dict[str, float]:
        """Kernel and extract_batches timings in this process, on a seeded
        sample of the input, plus the output's per-kind turn counts. Run
        after Spark has stopped, so nothing else competes for the cores."""
        from perfbench import kernel_probe

        out = kernel_probe.probe(self.input_table(), self.seed)
        counts = _kind_counts(_parquet_files(self.last_out))
        for k in ("html", "pdf_layout", "mixed_markup", "plain"):
            out[f"kernel.turns.{k}"] = counts.get(k, 0)
        out["kernel.error_turns"] = counts.get("error", 0)
        return out

    def timed(self, spark, tracer: Tracer, seconds: float) -> list[float]:
        walls = _repeat(lambda: self._pipeline(spark, tracer, self.input.path), seconds)
        self.last_out = [m["path"] for m in self.io.manifests()]
        return walls

    def _pipeline(self, spark, tracer: Tracer, path: str) -> float:
        """One whole pipeline run into a fresh output; returns its wall."""
        from ocrautomator_spark.spark.pipeline import run_pipeline

        shutil.rmtree(self.out_root, ignore_errors=True)
        self.io = TimedIO(str(self.out_root / "pipeline"), tracer)
        t0 = time.perf_counter()
        with tracer.span("pipeline.run_pipeline"):
            run_pipeline(spark.read.parquet(path), self.io, n_buckets=BACKFILL_BUCKETS)
        return time.perf_counter() - t0

    def check(self, spark) -> checks.CheckResult:
        from ocrautomator_spark.spark.pipeline import run_pipeline

        res = checks.check_extraction(self.input_table(), _parquet_files(self.last_out), self.seed)
        committed = sum(int(m.get("rows") or 0) for m in self.io.manifests())
        if committed != self.input.rows:
            res.fail(abs(committed - self.input.rows), f"manifests commit {committed} rows, input has {self.input.rows}")
        # a plain ParquetManifestIO: the resume call's reads are a check's
        # work, not spans of the traced unit
        done = ParquetManifestIO(str(self.io.root))
        again = run_pipeline(spark.read.parquet(self.input.path), done, n_buckets=BACKFILL_BUCKETS)
        if again:
            res.fail(self.input.rows, f"resume on finished output committed {len(again)} chunks")
        return res

    def layers(self, tracer: Tracer, stages: list[StageRow]) -> dict[str, float]:
        chunk_spans = {s.span_id for s in tracer.named("tableio.write_bucket_data")}
        chunk_stages = [r for r in stages if r.span_id in chunk_spans]
        manifests = self.io.manifests()
        walls = [float(m["wall_sec"]) for m in manifests]
        n_chunks = max(len(chunk_spans), 1)
        commits = [s.duration * 1e3 for s in tracer.named("tableio.commit_bucket")]
        files = _parquet_files(self.last_out)
        out = {
            "pipeline.chunk_wall_p50_s": _median(walls),
            "pipeline.chunk_wall_max_s": max(walls, default=0.0),
            "pipeline.jobs_per_chunk": len({j for r in chunk_stages for j in r.job_ids}) / n_chunks,
            "pipeline.tasks_per_chunk": sum(r.tasks for r in chunk_stages) / n_chunks,
            # records, not bytes: the local parquet reader under-reports
            # bytes read (a few KB per task for a file of hundreds of KB)
            "pipeline.input_read_amplification": sum(r.input_records for r in chunk_stages) / self.input.rows,
            "tableio.commit_ms_p50": _median(commits),
            "tableio.commit_ms_max": max(commits, default=0.0),
            "tableio.committed_buckets_ms": _median([s.duration * 1e3 for s in tracer.named("tableio.committed_buckets")]),
            "tableio.files_written": len(files),
            "tableio.bytes_written": sum(p.stat().st_size for p in files),
        }
        out.update(_extract_stage_metrics(chunk_stages))
        return out


class HeadlineQueries:
    name = "headline_queries"

    def __init__(self, work: pathlib.Path, seed: int, nproc: int) -> None:
        import bench

        missing = [q for q in HEADLINE_SUBSET if q not in bench.HEADLINE]
        if missing:
            raise ValueError(f"not headline queries: {missing}")
        self.work, self.seed = work, seed
        self.queries = list(HEADLINE_SUBSET)
        self.results: dict[str, tuple[list[str], list[tuple]] | str] = {}
        self.walls: dict[str, list[float]] = {q: [] for q in self.queries}
        self.raised: dict[str, str] = {}

    def prepare(self) -> inputs.InputSet:
        self.input = inputs.tables(self.work / "cache", self.seed, HEADLINE_SF)
        self.sf_dir = self.input.path
        return self.input

    def warmup(self, spark) -> None:
        """One untimed collect of every query, which pays its first-run
        costs and yields the rows that ``check`` compares with the oracles,
        then one untimed sweep; they stand in for bench.py's warm-up
        queries. After the collects alone, the next two sweeps were still
        40% and 20% slower than later ones while the JIT caught up; the
        sweep here takes the first of them, and the trimmed mean drops the
        second. Entries whose registered oracle is only valid in minhash oracle mode
        collect in that mode, as the oracle-parity test does."""
        from ocrautomator_spark.queries import QUERIES
        from ocrautomator_spark.queries.pipeline_ops import MINHASH_ORACLE_ENV, MINHASH_ORACLE_ONLY

        for q in self.queries:
            prior = os.environ.get(MINHASH_ORACLE_ENV)
            if q in MINHASH_ORACLE_ONLY:
                os.environ[MINHASH_ORACLE_ENV] = "1"
            try:
                df = QUERIES[q](spark, self.sf_dir)
                self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                self.results[q] = f"{type(e).__name__}: {e}"
            finally:
                if prior is None:
                    os.environ.pop(MINHASH_ORACLE_ENV, None)
                else:
                    os.environ[MINHASH_ORACLE_ENV] = prior
        self._sweep(spark, Tracer(False), self.sf_dir)

    def timed(self, spark, tracer: Tracer, seconds: float) -> list[float]:
        """Sweeps over the queries until ``seconds`` are spent; returns one
        wall per sweep (sum of its query walls)."""
        self.walls = {q: [] for q in self.queries}

        def sweep() -> float:
            walls = self._sweep(spark, tracer, self.sf_dir)
            for q, wall in walls.items():
                self.walls[q].append(wall)
            return sum(walls.values())

        return _repeat(sweep, seconds)

    def _sweep(self, spark, tracer: Tracer, sf_dir: str) -> dict[str, float]:
        """Each query once, to a noop sink; returns each query's wall."""
        from ocrautomator_spark.queries import QUERIES

        walls = {}
        for q in self.queries:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"queries.{q}", label=True):
                    _noop(QUERIES[q](spark, sf_dir))
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                self.raised[q] = f"{type(e).__name__}: {e}"
            walls[q] = time.perf_counter() - t0
        return walls

    def check(self, spark) -> checks.CheckResult:
        from ocrautomator_spark.queries import ORACLES

        res = checks.CheckResult(attempted=len(self.queries))
        con = checks.oracle_connection(self.sf_dir)
        try:
            for q in self.queries:
                got = self.results.get(q)
                if q in self.raised:
                    res.fail(1, f"{q}: raised in a sweep: {self.raised[q]}")
                elif isinstance(got, str) or got is None:
                    res.fail(1, f"{q}: raised: {got}")
                elif q in ORACLES:
                    diff = checks.matches_oracle(con, ORACLES[q], got[0], got[1])
                    if diff:
                        res.fail(1, f"{q}: {diff}")
                elif not got[1]:
                    res.fail(1, f"{q}: no rows and no oracle")
        finally:
            con.close()
        return res

    def e2e_extras(self, wall_s: float) -> dict[str, float]:
        return {"queries_per_s": len(self.queries) / wall_s}

    def describe(self) -> list[str]:
        return ["query walls_s: " + str({q: [round(w, 3) for w in ws] for q, ws in self.walls.items()})]

    def offline_layers(self) -> dict[str, float]:
        return {}

    def layers(self, tracer: Tracer, stages: list[StageRow]) -> dict[str, float]:
        out = {}
        for q in self.queries:
            spans = tracer.named(f"queries.{q}")
            ids = {s.span_id for s in spans}
            mine = [r for r in stages if r.span_id in ids]
            out[f"queries.{q}.wall_s"] = _median([s.duration for s in spans])
            # share of the query's wall with a Spark stage running: the rest
            # is planning, job submission and result handling in the driver
            out[f"queries.{q}.stage_wall_share"] = stage_wall_s(mine) / sum(s.duration for s in spans)
            out[f"queries.{q}.shuffle_bytes"] = sum(r.shuffle_write_bytes for r in mine)
            out[f"queries.{q}.tasks"] = sum(r.tasks for r in mine)
        return out


class TimedIO(ParquetManifestIO):
    """``ParquetManifestIO`` with a span around each public call of the
    pipeline. The chunk write span is labelled, so every Spark job of a
    chunk carries that chunk's span in its job description (set once per
    chunk)."""

    def __init__(self, root: str, tracer: Tracer) -> None:
        super().__init__(root)
        self.tracer = tracer

    def committed_buckets(self):
        with self.tracer.span("tableio.committed_buckets"):
            return super().committed_buckets()

    def write_bucket_data(self, df, bucket):
        with self.tracer.span("tableio.write_bucket_data", label=True, bucket=bucket):
            return super().write_bucket_data(df, bucket)

    def commit_bucket(self, bucket, run_id, stats=None):
        with self.tracer.span("tableio.commit_bucket", bucket=bucket):
            return super().commit_bucket(bucket, run_id, stats)


WORKLOADS = {w.name: w for w in (Backfill, HeadlineQueries)}

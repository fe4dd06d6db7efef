"""The repo benchmark: one workload per invocation, one JSON line of results.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. It generates the workload's inputs from
``--seed`` (cached under ``perfbench/.work/cache``), starts Spark at
local[2] in this process, warms it up, repeats the workload's timed unit
for ``--seconds`` seconds, checks the outputs, prints every metric by name
with its unit, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``. The metric names and
units are the ones ``BENCHMARK.json`` (next to ``perfbench/``) declares. It
exits 1 when a check fails, and 2 (printing no result) when the run itself
breaks.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the Spark
event log on, runs one unit untraced and one with spans, and reports the
per-layer metrics; it writes ``spans.jsonl`` and ``stages.json`` under
``perfbench/.work/runs/<workload>-seed<seed>/``. Every file a run writes,
Spark's scratch space included, stays under ``perfbench/.work``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402 - the clock above starts the set-up time
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from typing import TYPE_CHECKING  # noqa: E402

if TYPE_CHECKING:
    from perfbench.checks import CheckResult

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"
# the keys of workloads.WORKLOADS, spelled out so that --help works before
# the program's packages are importable
WORKLOAD_NAMES = ("backfill", "headline_queries")
# end-to-end figures that only some workloads have, or that are 0 on a
# correct run: printed, not in BENCHMARK.json
E2E_EXTRA = {
    "turns_per_s": "turns/s",
    "out_bytes_per_turn": "B",
    "queries_per_s": "1/s",
    "cpu_s": "s",
    "total_peak_mb": "MB",
    "jvm_peak_rss_mb": "MB",
    "failed_ratio": "ratio",
}


# Spark runs at local[2] whatever the core count. Every timed unit is bound
# by Spark's fixed per-job overhead, not by parallel work: on a 4-core box a
# pipeline unit took ~5 s and a headline sweep ~7 s at local[2] and at
# local[4] alike, with steadier unit walls at local[2]. The other cores are
# left to the JVM's own GC and JIT threads and to co-tenants.
SPARK_CORES = 2


def _isolate_scratch() -> dict[str, str]:
    """Point every scratch directory (ours, Spark's, the JVM's, the Python
    workers') into WORK, and put the checkout on the workers' PYTHONPATH."""
    tmp, local = WORK / "tmp", WORK / "spark-local"
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return {
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # no /tmp/hsperfdata_<user> file: the JVM writes it outside the
        # checkout whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": str(tmp / "hadoop"),
    }


class SparkControl:
    """Starts sessions with the benchmark's scratch settings and, at the
    end, stops the session and the JVM it launched, waiting for both."""

    def __init__(self, base_conf: dict[str, str]) -> None:
        self.base_conf = base_conf
        self.spark = None

    def start(self, master: str, event_log_dir: pathlib.Path | None = None):
        from ocrautomator_spark.spark.session import get_spark

        conf = dict(self.base_conf)
        if event_log_dir is not None:
            event_log_dir.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log_dir.as_uri(),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(master=master, app_name="perfbench", extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


@dataclass
class Result:
    header: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    extras: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    diagnostics: dict[str, object] = field(default_factory=dict)
    check: CheckResult | None = None


def run(args) -> int:
    conf = _isolate_scratch()

    from perfbench.health import STEAL_CEIL, cpu_times, steal_share, window_health
    from perfbench.procmon import PeakMemory, tree_cpu_seconds
    from perfbench.stats import trimmed_mean
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    nproc = os.cpu_count() or 1
    master = f"local[{min(SPARK_CORES, nproc)}]"
    res = Result()

    t0 = time.perf_counter()
    health = window_health()
    wl = WORKLOADS[args.workload](WORK, args.seed, nproc)
    inp = wl.prepare()
    excluded = time.perf_counter() - t0  # window probes and input generation are not set-up

    run_dir = WORK / "runs" / f"{args.workload}-seed{args.seed}"
    shutil.rmtree(run_dir, ignore_errors=True)
    ctl = SparkControl(conf)
    mem = PeakMemory().start()
    try:
        t_get = time.perf_counter()
        # the event log is on for the whole of a traced run, off otherwise
        spark = ctl.start(master, run_dir / "eventlog" if args.trace else None)
        t_warm = time.perf_counter()
        wl.warmup(spark)
        t_ready = time.perf_counter()
        # a traced run reports no end-to-end metric: one untraced unit is
        # enough for the tracing-overhead baseline
        cpu0, machine0 = tree_cpu_seconds(os.getpid()), cpu_times()
        walls = wl.timed(spark, Tracer(False), 0.0 if args.trace else args.seconds)
        cpu_s = (tree_cpu_seconds(os.getpid()) - cpu0) / len(walls)
        health["timed_steal_share"] = round(steal_share(machine0, cpu_times()), 4)
        health["degraded_window"] |= health["timed_steal_share"] > STEAL_CEIL
        mem.stop()
        wall_s = trimmed_mean(walls)
        if args.trace:
            tracer = Tracer(True)
            tracer.spark_context = spark.sparkContext
            with tracer.span("benchmark.timed"):
                traced_wall = trimmed_mean(wl.timed(spark, tracer, 0.0))
        t_check = time.perf_counter()
        res.check = wl.check(spark)
        check_s = time.perf_counter() - t_check
        if args.trace:
            ctl.stop()  # flushes the event log
            _trace_report(wl, tracer, run_dir, res)
            res.layers["session.get_spark_s"] = t_warm - t_get
            res.layers["session.warmup_s"] = t_ready - t_warm
            res.layers["tracing.overhead_s"] = traced_wall - wall_s
            res.diagnostics.update(traced_wall_s=traced_wall, run_dir=str(run_dir.relative_to(ROOT)))
    finally:
        mem.stop()
        ctl.shutdown()
    if args.trace:
        res.layers.update(wl.offline_layers())

    res.header = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}",
        f"input: rows={inp.rows} bytes={inp.bytes} digest={inp.digest} cached={inp.cached} gen_s={inp.gen_s:.3f}",
        f"window: {json.dumps(health)}",
        f"timed units: {len(walls)} walls_s={[round(w, 3) for w in walls]}",
        f"phases_s: probes+inputs={excluded:.1f} get_spark={t_warm - t_get:.1f} warmup={t_ready - t_warm:.1f} check={check_s:.1f}",
        f"peak memory by process (MB; JVM RSS, others anon+shmem PSS): { {k: round(v / 2**20) for k, v in mem.peak_by_name.items()} }",
        *wl.describe(),
    ]
    res.e2e = {
        "setup_s": t_ready - T_START - excluded,
        "wall_s": wall_s,
        "python_peak_pss_mb": mem.python_peak / 2**20,
    }
    res.extras = {
        **wl.e2e_extras(wall_s),
        "cpu_s": cpu_s,
        "total_peak_mb": mem.peak / 2**20,
        "jvm_peak_rss_mb": mem.peak_by_name.get("java", 0) / 2**20,
        "failed_ratio": res.check.failed / res.check.attempted if res.check.attempted else 1.0,
    }
    return report(res, bool(args.trace))


def _trace_report(wl, tracer, run_dir: pathlib.Path, res: Result) -> None:
    """Reduce the event log to per-stage rows, write them and the spans,
    and turn both into the workload's per-layer metrics."""
    from perfbench.eventlog import reduce_dir

    stages = reduce_dir(run_dir / "eventlog")
    tracer.write(run_dir / "spans.jsonl")
    (run_dir / "stages.json").write_text(json.dumps([r.as_dict() for r in stages], indent=1))
    res.layers.update(wl.layers(tracer, stages))


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in doc["end_to_end"]},
        {m["name"]: m["unit"] for m in doc["per_layer"]},
    )


def report(res: Result, trace: bool) -> int:
    """Print the header, every metric as ``name value unit``, any failed
    check, and the result line; return the exit code."""
    e2e, per_layer = declared_metrics()
    for line in res.header:
        print(f"# {line}")
    units = {**e2e, **E2E_EXTRA}
    for k, v in {**res.e2e, **res.extras}.items():
        print(f"{k:48s} {_fmt(v):>14s} {units[k]}")
    if trace:
        for k, unit in per_layer.items():
            print(f"{k:48s} {_fmt(res.layers.get(k, 0)):>14s} {unit}")
        for k, v in res.diagnostics.items():
            print(f"{k:48s} {_fmt(v):>14s}")
    for p in res.check.problems:
        print(f"# CHECK FAILED: {p}")

    if trace:
        metrics = {k: {"value": res.layers.get(k, 0), "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in e2e.items()}
    correct = res.check.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.check.attempted, "failed": res.check.failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    try:
        return run(args)
    except Exception:  # noqa: BLE001 - a broken run prints no result line
        traceback.print_exc()
        return 2


if __name__ == "__main__":
    sys.exit(main())

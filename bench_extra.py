#!/usr/bin/env python
"""Per-query isolation bench + plan capture (optimization guide §1.4/§1.5).

NOT the driver metric — bench.py is frozen for measurement; this harness
exists so a single query can be timed (noop sink, interleaved reps, best-of)
and its ``explain("formatted")`` captured without paying for the whole
headline sweep. Used for the round-7 before/after evidence in
OPTIMIZATION_r07.md and plans/r07/.

Usage:
    python bench_extra.py q1 q2 ...            # time queries (3 reps each)
    python bench_extra.py --plans DIR q1 ...   # also dump explain() to DIR
    python bench_extra.py --all-headline       # the bench.py headline set

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_XBENCH_REPS (default 3).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", min(os.cpu_count() or 8, 32)))
REPS = int(os.environ.get("SPARK_GRAFT_XBENCH_REPS", "3"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main(argv: list[str]) -> None:
    plan_dir: pathlib.Path | None = None
    names: list[str] = []
    it = iter(argv)
    for a in it:
        if a == "--plans":
            plan_dir = pathlib.Path(next(it))
        elif a == "--all-headline":
            names.extend(HEADLINE)
        else:
            names.append(a)
    if not names:
        names = list(HEADLINE)

    from ocrautomator_spark.queries import QUERIES
    from ocrautomator_spark.spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", app_name="bench-extra")
    sc = spark.sparkContext
    # untimed warmup: JVM codegen + Python worker start (same as bench.py)
    sc.setJobDescription("xbench:warmup")
    _noop(QUERIES["agg_hash"](spark, SF_DIR))
    _noop(QUERIES["udf_scalar_pandas"](spark, SF_DIR))
    if any(n.startswith("ann_pq") or n == "ann_index_incremental" for n in names):
        sc.setJobDescription("xbench:ann_index_build (untimed ingest)")
        _noop(QUERIES["ann_index_build"](spark, SF_DIR))

    walls: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(REPS):
        for n in names:
            sc.setJobDescription(f"xbench:{n}")
            t0 = time.perf_counter()
            _noop(QUERIES[n](spark, SF_DIR))
            walls[n].append(round(time.perf_counter() - t0, 3))
    sc.setJobDescription(None)

    if plan_dir is not None:
        plan_dir.mkdir(parents=True, exist_ok=True)
        for n in names:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                QUERIES[n](spark, SF_DIR).explain("formatted")
            (plan_dir / f"{n}.txt").write_text(buf.getvalue())
    spark.stop()
    out = {n: {"best": min(w), "walls": w} for n, w in walls.items()}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])

"""spark-submit entry point (BASELINE.json:6: "ships via spark-submit --py-files").

Usage on a cluster:

    zip -r engine.zip ocrautomator_spark
    spark-submit --py-files engine.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        ocrautomator_spark/submit.py \\
        --input  <path or iceberg table of transcripts> \\
        --output <output root (parquet+manifest) or iceberg table> \\
        --buckets 256 --partitions 4096 [--resume]

Local sandbox twin (what the tests exercise):

    python -m ocrautomator_spark.submit --synth-convs 2000 --output /tmp/extracted

The job is restartable: rerunning with the same --output resumes from the
committed per-bucket manifests (ocrAutomator's resume file, rebuilt —
SURVEY.md §2A A10). On Iceberg, each bucket commit is one append snapshot.

Two chunk jobs are in flight by default (``--concurrency``, the same default
as ``run_pipeline``). One chunk's Python stage has one task per core and fills
every slot, so the second chunk's planning, input scan, exchange and commit
run behind it instead of leaving the slots idle between chunks, like the
reference's worker queue that never lets a worker wait between documents.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="ocrautomator_spark extract job")
    p.add_argument("--input", help="transcripts parquet path (or iceberg table on a cluster)")
    p.add_argument("--synth-convs", type=int, help="generate N synthetic conversations instead of --input")
    p.add_argument("--output", required=True, help="output root (parquet data + _manifests)")
    p.add_argument("--buckets", type=int, default=16, help="checkpoint chunks (commit granularity)")
    p.add_argument(
        "--partitions", type=int, default=None,
        help="Python-stage tasks per chunk (default: one per core)",
    )
    p.add_argument("--master", default=None, help="override master (default: existing session/local)")
    p.add_argument("--run-id", default=None)
    p.add_argument(
        "--concurrency", type=int, default=None,
        help="chunk jobs in flight at once (default 2: one chunk's Python stage fills every "
        "task slot, the next chunk's scan, exchange and commit run behind it; 1 runs chunks "
        "one after another; more pays only where one chunk's tasks leave slots free)",
    )
    args = p.parse_args(argv)
    if not (args.synth_convs or args.input):
        p.error("one of --input / --synth-convs is required")
    if args.concurrency is not None and args.concurrency < 1:
        p.error("--concurrency must be at least 1")

    from ocrautomator_spark.spark.pipeline import run_pipeline
    from ocrautomator_spark.spark.session import get_spark
    from ocrautomator_spark.spark.synth_job import synth_transcripts_df
    from ocrautomator_spark.spark.tableio import ParquetManifestIO

    spark = get_spark(master=args.master, app_name="ocrautomator-extract")
    if args.synth_convs:
        df = synth_transcripts_df(spark, args.synth_convs)
    else:
        df = spark.read.parquet(args.input)

    io = ParquetManifestIO(args.output)
    done_before = len(io.committed_buckets())
    window = {} if args.concurrency is None else {"max_concurrent": args.concurrency}
    manifests = run_pipeline(
        df, io, n_buckets=args.buckets, n_partitions=args.partitions, run_id=args.run_id, **window
    )
    summary = {
        "resumed_from": done_before,
        "chunks_committed": len(manifests),
        "rows": int(sum(m.get("rows", 0) for m in manifests)),
        "output": args.output,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

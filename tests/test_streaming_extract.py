"""Streaming extraction ≡ batch extraction: the same kernel through
readStream must produce exactly the batch job's rows, including when the
input arrives as MULTIPLE files (micro-batch boundaries must not matter)."""

from __future__ import annotations

import uuid

from ocrautomator_spark.spark.extract_job import run_extract
from ocrautomator_spark.spark.schemas import TRANSCRIPTS
from ocrautomator_spark.spark.synth_job import synth_transcripts_df


def _key_rows(df):
    return sorted(
        (
            r["conv_id"],
            r["turn_idx"],
            r["extracted_text"],
            tuple((s["start"], s["end"], s["kind"]) for s in r["spans"]),
            r["payload_kind"],
        )
        for r in df.select("conv_id", "turn_idx", "extracted_text", "spans", "payload_kind").collect()
    )


def test_streaming_extract_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    synth_transcripts_df(spark, 25).repartition(6).write.parquet(inp)  # 6 files → file-source batches

    batch_rows = _key_rows(run_extract(spark.read.parquet(inp), n_partitions=4))

    name = f"sx_{uuid.uuid4().hex[:8]}"
    q = (
        run_extract(spark.readStream.schema(TRANSCRIPTS).parquet(inp), n_partitions=4)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_rows = _key_rows(spark.table(name))
    assert stream_rows == batch_rows
    assert len(stream_rows) == spark.read.parquet(inp).count()

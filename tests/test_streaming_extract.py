"""Streaming extraction ≡ batch extraction: the same kernel through
readStream must produce exactly the batch job's rows, including when the
input arrives as MULTIPLE files (micro-batch boundaries must not matter),
and a NULL-text turn comes out as an ``error`` row on both paths."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

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


def _null_rows(df):
    return [(r["payload_kind"], r["n_chars_in"]) for r in df.filter(F.col("conv_id") == "c-null").collect()]


def test_streaming_extract_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    synth = synth_transcripts_df(spark, 25)
    synth.repartition(6).write.parquet(inp)  # 6 files → file-source batches
    # one more file holding one NULL-text turn: it must come out as an error
    # row, not fail the micro-batch
    synth.limit(1).select(
        F.lit("c-null").alias("conv_id"),
        *[F.lit(None).cast("string").alias(c) if c == "text" else F.col(c) for c in synth.columns[1:]],
    ).coalesce(1).write.mode("append").parquet(inp)

    batch = run_extract(spark.read.parquet(inp), n_partitions=4)
    batch_rows = _key_rows(batch)
    assert _null_rows(batch) == [("error", 0)]

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
    streamed = spark.table(name)
    stream_rows = _key_rows(streamed)
    assert stream_rows == batch_rows
    assert _null_rows(streamed) == [("error", 0)]
    assert len(stream_rows) == spark.read.parquet(inp).count()

"""M1 end-to-end slice: scan → salted repartition → mapInPandas → local sort
→ agg (SURVEY.md §7 M1) over the driver's sf0.001 tables and synth transcripts."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocrautomator_spark.kernel import EXTRACTOR_VERSION
from ocrautomator_spark.spark.extract_job import extract_partitions, flagship, run_extract
from ocrautomator_spark.spark.schemas import TRANSCRIPTS
from ocrautomator_spark.spark.synth_job import synth_transcripts_df
from tests.conftest import SF_DIR


def test_flagship_rollup(spark):
    out = flagship(spark, SF_DIR).collect()
    assert len(out) > 0
    langs = {r["lang"] for r in out}
    assert langs <= {"de", "en", "es", "fr", "zh"}
    assert sum(r["n_docs"] for r in out) == 500  # sf0.001 documents row count
    assert all(r["chars_out"] > 0 for r in out)


def test_extract_over_synth_transcripts(spark):
    df = synth_transcripts_df(spark, n_convs=40)
    ext = run_extract(df, n_partitions=8)
    rows = ext.collect()
    n_in = df.count()
    assert len(rows) == n_in
    r0 = rows[0]
    assert r0["extractor_version"] == EXTRACTOR_VERSION
    assert r0["partition_id"] >= 0
    assert r0["batch_latency_ms"] >= 0.0
    kinds = {r["payload_kind"] for r in rows}
    assert kinds == {"html", "pdf_layout", "mixed_markup", "plain"}
    assert "text" not in ext.columns, "raw payload must not be duplicated into the output"
    # spans are structured and in-bounds of the SOURCE payload (join back)
    texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()}
    some = [r for r in rows if r["spans"]][:50]
    assert some
    for r in some:
        raw = texts[(r["conv_id"], r["turn_idx"])]
        prev = 0
        for s in r["spans"]:
            assert 0 <= s["start"] < s["end"] <= len(raw)
            assert s["start"] >= prev
            prev = s["end"]


def test_synth_generation_is_parallelism_invariant(spark):
    a = synth_transcripts_df(spark, n_convs=15, n_partitions=1)
    b = synth_transcripts_df(spark, n_convs=15, n_partitions=7)
    assert a.orderBy("conv_id", "turn_idx").collect() == b.orderBy("conv_id", "turn_idx").collect()


def test_sort_within_partitions_ordering(spark):
    df = synth_transcripts_df(spark, n_convs=25)
    ext = run_extract(df, n_partitions=4)

    def check(it):
        import pandas as pd  # noqa: F401

        for pdf in it:
            keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
            assert keys == sorted(keys), "partition not sorted by (conv_id, turn_idx)"
            yield pdf[["conv_id"]].iloc[:0]

    ext.mapInPandas(check, "conv_id string").collect()  # raises in-task on violation


def test_error_channel_never_breaks_batch(spark):
    bad = spark.createDataFrame(
        [("c1", 0, "user", "", None, "2025-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = run_extract(bad, n_partitions=2).collect()
    assert len(out) == 1
    assert out[0]["extracted_text"] == ""
    assert out[0]["spans"] == []


# ------------------------------------------------------- partition count


def test_extract_partitions_is_one_task_per_core(spark, tmp_path):
    path = str(tmp_path / "in")
    synth_transcripts_df(spark, 10).write.parquet(path)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != spark.sparkContext.defaultParallelism
    assert extract_partitions(spark.read.parquet(path)) == spark.sparkContext.defaultParallelism


def test_extract_partitions_stream_falls_back_to_shuffle_partitions(spark, tmp_path):
    path = str(tmp_path / "in")
    synth_transcripts_df(spark, 5).write.parquet(path)
    stream = spark.readStream.schema(TRANSCRIPTS).parquet(path)
    assert extract_partitions(stream) == int(spark.conf.get("spark.sql.shuffle.partitions"))

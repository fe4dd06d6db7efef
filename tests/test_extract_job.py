"""M1 end-to-end slice: scan → salted repartition → mapInPandas → local sort
→ agg (SURVEY.md §7 M1) over the driver's sf0.001 tables and synth transcripts,
and ``extract_batches`` against ``extract_one`` row for row."""

from __future__ import annotations

from itertools import cycle

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ocrautomator_spark.kernel import EXTRACTOR_VERSION
from ocrautomator_spark.kernel.extractor import extract_one
from ocrautomator_spark.spark.extract_job import (
    _WS_TO_COLLAPSE,
    _plain_single_block,
    extract_batches,
    extract_partitions,
    flagship,
    run_extract,
)
from ocrautomator_spark.spark.pipeline import run_pipeline
from ocrautomator_spark.spark.schemas import EXTRACT_FIELDS, TRANSCRIPTS
from ocrautomator_spark.spark.synth_job import synth_transcripts_df
from ocrautomator_spark.spark.tableio import ParquetManifestIO
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


def _with_null_text(spark, n_convs: int):
    """synth transcripts plus one turn whose text is NULL."""
    df = synth_transcripts_df(spark, n_convs=n_convs)
    null_row = df.limit(1).select(
        F.lit("c-null").alias("conv_id"),
        *[F.lit(None).cast("string").alias(c) if c == "text" else F.col(c) for c in df.columns[1:]],
    )
    return df.unionByName(null_row)


def test_null_text_is_one_error_row(spark):
    df = _with_null_text(spark, 6)
    out = run_extract(df, n_partitions=2).collect()
    assert len(out) == df.count()
    (row,) = [r for r in out if r["conv_id"] == "c-null"]
    assert row["payload_kind"] == "error"
    assert row["n_chars_in"] == 0
    assert row["n_chars_out"] == 0
    assert row["spans"] == []


def test_null_text_counts_as_error_in_manifest(spark, tmp_path):
    df = _with_null_text(spark, 6)
    manifests = run_pipeline(df, ParquetManifestIO(str(tmp_path / "m")), n_buckets=2, n_partitions=2, run_id="n")
    assert sum(m["rows"] for m in manifests) == df.count()
    assert sum(m["errors"] for m in manifests) == 1
    assert sum(m["rows_by_kind"]["error"] for m in manifests) == 1


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


# ------------------------------------------ extract_batches == extract_one
#
# extract_batches extracts single-line ASCII plain rows in Arrow compute and
# every other row with extract_one; both must give extract_one's result.

# every ASCII char str.split() splits on
_ASCII_WS = "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f "
# whitespace to str.split() but not to the Arrow fast path's regex
_OTHER_WS = "\x85\xa0　"
# fast rows with one trigger each of the whitespace rewrite: a leading
# space, a trailing space, a double space, a lone non-space whitespace char
GUARD_ROWS = [" ab", "ab ", "a  b", *(f"ab{w}cd" for w in "\t\x0b\r\x1c\x1d\x1e\x1f")]
EDGE_ROWS = [
    None,
    "",
    *_ASCII_WS,
    *(f" a{w}{w}b{w}" for w in _ASCII_WS),
    *_OTHER_WS,
    *(f"a{w}b" for w in _OTHER_WS),
    "é",  # not NFC
    "page 3",
    "Page 2 of 9",
    "# h",
    "- x",
    "```",
    "a\fb",
    "a\n\nb",
    "# h\n# g",
    "<p>one</p><p>two</p>",
    "plain words  and\trun",
    *GUARD_ROWS,
]
FAST_ROWS = ["", " ", "a  b", "\tx\x1fy ", "one line of chat"]
# fast rows that already equal their result, so the rewrite skips them
UNMARKED_ROWS = ["", "a", "ab cd", "one line of chat", "x.y, z!", "A b C d e"]
SLOW_ROWS = [None, "page 3", "a\n\nb", "<p>x</p><p>y</p>", "a\xa0b", "a\fb"]

_chatty = st.lists(st.sampled_from([*_ASCII_WS, *_OTHER_WS, *"abPAGE<>#-*+1.`", "page", "<p>"]), max_size=30).map("".join)
_rows = st.lists(st.one_of(st.none(), st.text(max_size=40), _chatty), max_size=40)


def _plain_single_block_5pass(text: pa.Array) -> pa.Array:
    """The row test with one pass per clause (ASCII, ``<``, newline, form
    feed, case-insensitive ``page``): the reference ``_plain_single_block``'s
    one-regex mask must equal."""
    ok = pc.string_is_ascii(text)
    for pattern in ("<", "\n", "\f"):
        ok = pc.and_(ok, pc.invert(pc.match_substring(text, pattern)))
    ok = pc.and_(ok, pc.invert(pc.match_substring(text, "page", ignore_case=True)))
    return pc.fill_null(ok, False)


def _marked(rows: list) -> list[bool]:
    return pc.match_substring_regex(pa.array(rows, pa.string()), _WS_TO_COLLAPSE).to_pylist()


def _via_batches(batches: list[pa.RecordBatch]) -> list[tuple]:
    out = []
    for rb in extract_batches(iter(batches)):
        assert rb.column("extractor_version").to_pylist() == [EXTRACTOR_VERSION] * rb.num_rows
        assert rb.column("partition_id").to_pylist() == [-1] * rb.num_rows
        spans = ([tuple(s.values()) for s in row] for row in rb.column("spans").to_pylist())
        out += zip(rb.column("extracted_text").to_pylist(), spans, rb.column("payload_kind").to_pylist())
    return out


def _batches(rows: list, size: int) -> list[pa.RecordBatch]:
    """``rows`` cut into batches of ``size``; no rows make one empty batch."""
    rb = pa.RecordBatch.from_arrays(
        [pa.array(range(len(rows)), pa.int32()), pa.array(rows, pa.string())], names=["turn_idx", "text"]
    )
    return [rb.slice(i, size) for i in range(0, max(len(rows), 1), size)]


def _want(rows: list) -> list[tuple]:
    return [(r.extracted_text, [tuple(s) for s in r.spans], r.payload_kind) for r in map(extract_one, rows)]


@pytest.mark.parametrize("size", [1, 7, 2048])
def test_extract_batches_equals_extract_one_on_edge_rows(size):
    assert _via_batches(_batches(EDGE_ROWS, size)) == _want(EDGE_ROWS)


@settings(max_examples=200, deadline=None)
@given(_rows)
def test_extract_batches_equals_extract_one(rows):
    text = pa.array(rows, pa.string())
    assert _plain_single_block(text).to_pylist() == _plain_single_block_5pass(text).to_pylist()
    want = _want(rows)
    for size in (1, 7, 2048):
        assert _via_batches(_batches(rows, size)) == want


def test_guard_marks_each_trigger_alone():
    """Each guard row (also an edge row) passes the row test and is marked
    for the rewrite; no unmarked row needs it."""
    assert all(_plain_single_block(pa.array(GUARD_ROWS + UNMARKED_ROWS, pa.string())).to_pylist())
    assert _marked(GUARD_ROWS) == [True] * len(GUARD_ROWS)
    assert _marked(UNMARKED_ROWS) == [False] * len(UNMARKED_ROWS)
    assert [" ".join(r.split()) for r in UNMARKED_ROWS] == UNMARKED_ROWS


_GUARD_MIXES = {
    "none_marked": UNMARKED_ROWS * 3,
    "all_marked": GUARD_ROWS * 2,
    "some_marked": [r for pair in zip(GUARD_ROWS, UNMARKED_ROWS * 2) for r in pair],
}


@pytest.mark.parametrize("size", [1, 7, 2048])
@pytest.mark.parametrize("with_slow", [False, True], ids=["fast_only", "with_slow"])
@pytest.mark.parametrize("mix", sorted(_GUARD_MIXES))
def test_extract_batches_guard_branches(mix, with_slow, size):
    """Batches whose fast rows are all unmarked (the rewrite is skipped),
    all marked, or some marked (the rewrite runs on those rows only), alone
    and between per-row rows, give ``extract_one``'s results."""
    fast = _GUARD_MIXES[mix]
    assert any(_marked(fast)) == (mix != "none_marked")
    assert all(_marked(fast)) == (mix == "all_marked")
    rows = [r for pair in zip(fast, cycle(SLOW_ROWS)) for r in pair] if with_slow else fast
    assert _via_batches(_batches(rows, size)) == _want(rows)


@pytest.mark.parametrize("rows", [FAST_ROWS, SLOW_ROWS, []], ids=["all_fast", "all_slow", "empty"])
def test_extract_batches_one_path_batches(rows):
    """A batch whose rows all take one path skips the merge, with the same
    schema and results as a mixed batch."""
    assert _plain_single_block(pa.array(rows, pa.string())).to_pylist() == [rows is FAST_ROWS] * len(rows)
    (batch,) = _batches(rows, 2048)
    (out,) = extract_batches(iter([batch]))
    (mixed,) = extract_batches(iter(_batches(FAST_ROWS + SLOW_ROWS, 2048)))
    assert out.num_rows == len(rows)
    assert out.schema == mixed.schema
    assert _via_batches([batch]) == _want(rows)


@pytest.mark.parametrize("size", [1, 7, 2048])
def test_extract_batches_fills_every_non_nullable_field(size):
    """No column the output schema declares non-nullable carries a null,
    NULL-text rows included — the JVM rejects such a batch."""
    required = [f.name for f in EXTRACT_FIELDS if not f.nullable]
    for rb in extract_batches(iter(_batches(EDGE_ROWS, size))):
        assert {c: rb.column(c).null_count for c in required} == dict.fromkeys(required, 0)


def test_large_arrow_string_types_give_the_default_rows(spark, tmp_path):
    """Under ``spark.sql.execution.arrow.useLargeVarTypes`` the Python stage
    gets ``text`` as ``large_string``; batches that mix Arrow-path and
    per-row rows must still make one result column, and ``run_extract`` and
    ``run_pipeline`` must return the default session's rows."""
    df = synth_transcripts_df(spark, 20)
    varying = ("partition_id", "batch_latency_ms")

    def rows(out):
        return sorted(out.select(*[c for c in out.columns if c not in varying]).collect())

    def run(tag: str) -> tuple[list, list]:
        io = ParquetManifestIO(str(tmp_path / tag))
        run_pipeline(df, io, n_buckets=2, n_partitions=2, run_id=tag)
        return rows(run_extract(df, n_partitions=2)), rows(io.read(spark))

    key = "spark.sql.execution.arrow.useLargeVarTypes"
    want = run("default")
    before = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        got = run("large")
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert len(want[0]) == len(want[1]) == df.count()
    assert got == want

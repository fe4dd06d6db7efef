"""The extract job — the Spark-first rebuild of ocrAutomator's pipeline spine.

Reference lifecycle (SURVEY.md §3.1): enumerate files → producer/consumer
queue → N worker threads each running Tesseract per document → write txt/exif.
Spark lifecycle (§3.2), one Python crossing total:

    read table
      → salted repartition                 (A11: defeats long-conversation skew;
                                            the reference's analogue is a huge PDF
                                            head-of-line-blocking one thread)
      → mapInArrow(extract_batches)        (A5+A6: batched Arrow UDF replaces the
                                            per-document worker loop; Arrow-native,
                                            no pandas boxing — passthrough columns
                                            cross zero-copy, spans are built as
                                            vectorized ListArray/StructArray;
                                            single-line ASCII plain turns, most
                                            chat turns, never reach per-row
                                            Python: an ASCII test and one regex
                                            pick them, Arrow compute extracts
                                            them and rewrites whitespace only
                                            in rows that have a run to
                                            collapse; extract_one the rest)
      → sortWithinPartitions(conv_id, turn_idx)   (A7: stable turn ordering)
      → [caller writes + commits manifest]  (A8/A10, see spark/pipeline.py +
                                            spark/tableio.py ParquetManifestIO)

Lineage/metrics columns (extractor_version, partition_id, batch_latency_ms,
char counts) ride along with every row — the columnar rebuild of the
exif-writeback (A9). BASELINE.json:6 names every element of this design.

The raw payload column is NOT copied into the output (schemas.py
EXTRACT_KEY_COLS rationale) — at 10^12 turns that halves shuffle/sort/write
bytes; spans point back into the source table.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from itertools import accumulate

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ocrautomator_spark.kernel.extractor import EXTRACTOR_VERSION, extract_one
from ocrautomator_spark.kernel.types import KIND_CONTENT, PK_PLAIN
from ocrautomator_spark.spark.schemas import EXTRACT_FIELDS, EXTRACT_KEY_COLS, TRANSCRIPTS

# A long conversation is spread over up to SALT_BUCKETS partitions; extraction
# is per-turn, so splitting a conversation across tasks is semantics-free.
SALT_BUCKETS = 16

_SPAN_TYPE = pa.struct(
    [
        pa.field("start", pa.int32(), False),
        pa.field("end", pa.int32(), False),
        pa.field("kind", pa.string(), False),
    ]
)
_RESULT_NAMES = ["extracted_text", "spans", "payload_kind"]
# one run of the ASCII characters that str.split() splits on
_ASCII_WS_RUN = r"[\t\n\x0b\x0c\r\x1c-\x1f ]+"
# a char or word that a non-plain or multi-block row needs (_plain_single_block)
_NOT_PLAIN_BLOCK = r"[<\n\f]|(?i:page)"
# on a row with no newline or form feed: a whitespace char other than a
# space, a double space, or a space at either end; a row without one is
# already " ".join(text.split())
_WS_TO_COLLAPSE = r"[\t\x0b\r\x1c-\x1f]|  |^ | $"


def _plain_single_block(text: pa.Array) -> pa.Array:
    """True where ``extract_one`` provably sniffs the row as plain and
    ``extract_plain`` makes one block of it, so its result is
    ``" ".join(text.split())`` with one span over the whole row. Nulls are
    false (``extract_one`` reports them as errors). Two passes: an ASCII
    test and one ``_NOT_PLAIN_BLOCK`` search. Each alternative of that
    pattern stands for the ``sniff`` rules (kernel/sniff.py) it rules out:

    * ASCII: ``str.split`` whitespace is then exactly ``_ASCII_WS_RUN``, NFC
      is the identity, and no non-ASCII char folds onto a regex letter;
    * no ``<``: HTML and the has-``<`` mixed rule both need one;
    * no newline: markdown needs at least 2 line-start signals, and on one
      line heading, fence and list can only match at position 0, and only
      one of them can match there; one line also fails the PDF ``-\\n`` and
      at-least-4-lines rules and makes ``extract_plain`` one paragraph;
    * no ``\\f`` and no case-insensitive ``page``: the other PDF rules
      (form feed, page-marker line).
    """
    ok = pc.and_(pc.string_is_ascii(text), pc.invert(pc.match_substring_regex(text, _NOT_PLAIN_BLOCK)))
    return pc.fill_null(ok, False)


def _span_lists(offsets: pa.Array, starts, ends, kinds) -> pa.ListArray:
    structs = pa.StructArray.from_arrays(
        [pa.array(starts, pa.int32()), pa.array(ends, pa.int32()), pa.array(kinds, pa.string())],
        fields=list(_SPAN_TYPE),
    )
    return pa.ListArray.from_arrays(offsets, structs)


def _extract_plain_rows(text: pa.Array) -> pa.StructArray:
    """(extracted_text, spans, payload_kind) of rows that pass
    ``_plain_single_block``, in Arrow compute: whitespace runs become one
    space, the ends are trimmed, and a non-empty result gets the span
    ``(0, len(text), "content")``. A whitespace-only row gets no span, as
    ``extract_one``'s early return gives it. One ``_WS_TO_COLLAPSE`` search
    marks the rows that need the rewrite; the rest already equal their
    result, so the rewrite runs on the marked rows only, and not at all
    when none is marked (most chat turns)."""
    marked = pc.match_substring_regex(text, _WS_TO_COLLAPSE)
    extracted = text
    if pc.any(marked).as_py():
        collapsed = pc.utf8_trim(pc.replace_substring_regex(pc.filter(text, marked), _ASCII_WS_RUN, " "), " ")
        extracted = pc.replace_with_mask(text, marked, collapsed)
    has_span = pc.greater(pc.binary_length(extracted), 0)
    ends = pc.filter(pc.cast(pc.utf8_length(text), pa.int32()), has_span)
    n_spans = len(ends)
    offsets = pa.concat_arrays(
        [pa.array([0], pa.int32()), pc.cumulative_sum(pc.cast(has_span, pa.int32()))]
    )
    spans = _span_lists(
        offsets,
        pa.repeat(pa.scalar(0, pa.int32()), n_spans),
        ends,
        pa.repeat(pa.scalar(KIND_CONTENT), n_spans),
    )
    kinds = pa.repeat(pa.scalar(PK_PLAIN), len(text))
    return pa.StructArray.from_arrays([extracted, spans, kinds], names=_RESULT_NAMES)


def _extract_rows(text: pa.Array) -> pa.StructArray:
    """(extracted_text, spans, payload_kind) of any rows, ``extract_one``
    per row. ExtractResult and Span are NamedTuples, so zip(*...) unzips the
    whole batch at C speed — no per-row/per-span Python append loops. The
    extracted text takes ``text``'s type, as ``_extract_plain_rows``' does,
    so the two concatenate under large Arrow string types too."""
    results = [extract_one(t) for t in text.to_pylist()]
    ext_texts, span_lists, pks = zip(*results) if results else ((), (), ())
    flat_spans = [s for spans in span_lists for s in spans]
    starts, ends, kinds = zip(*flat_spans) if flat_spans else ((), (), ())
    offsets = pa.array(list(accumulate(map(len, span_lists), initial=0)), pa.int32())
    return pa.StructArray.from_arrays(
        [pa.array(ext_texts, text.type), _span_lists(offsets, starts, ends, kinds), pa.array(pks, pa.string())],
        names=_RESULT_NAMES,
    )


def _extract_column(text: pa.Array) -> pa.StructArray:
    """Rows that pass ``_plain_single_block`` go through Arrow compute, the
    rest through ``extract_one``; the two result sets are put back in input
    order with one ``take``."""
    fast = _plain_single_block(text)
    n_fast = pc.sum(fast).as_py() or 0
    if n_fast == len(text):
        return _extract_plain_rows(text)
    if n_fast == 0:
        return _extract_rows(text)
    both = pa.concat_arrays(
        [_extract_plain_rows(pc.filter(text, fast)), _extract_rows(pc.filter(text, pc.invert(fast)))]
    )
    # row i is the k-th fast row (k = fast rows up to i, 1-based) or the k-th
    # slow row, so it sits at k-1 or n_fast+k-1 in fast ++ slow
    nth_fast = pc.cumulative_sum(pc.cast(fast, pa.int32()))
    nth_slow = pc.cumulative_sum(pc.cast(pc.invert(fast), pa.int32()))
    where = pc.subtract(pc.if_else(fast, nth_fast, pc.add(nth_slow, n_fast)), 1)
    return both.take(where)


def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow-batched extraction: one Python crossing per batch. Single-line
    ASCII plain rows are extracted in Arrow compute; every other row runs
    the kernel's ``extract_one`` (string-at-a-time like Tesseract was
    document-at-a-time, but batching amortizes transfer + interpreter
    overhead and all pre/post processing stays JVM-side). Output spans are
    assembled as flat Arrow child arrays + offsets — no per-row Python dicts
    cross the boundary. tests/test_extract_job.py checks the result equals
    ``extract_one`` row for row."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    for rb in batches:
        t0 = time.perf_counter()
        text_idx = rb.schema.get_field_index("text")
        extracted, spans, pks = _extract_column(rb.column(text_idx)).flatten()
        latency_ms = (time.perf_counter() - t0) * 1000.0
        n = rb.num_rows
        new_cols = [
            extracted,
            spans,
            pks,
            pa.repeat(pa.scalar(EXTRACTOR_VERSION, pa.string()), n),
            pa.repeat(pa.scalar(pid, pa.int32()), n),
            pa.repeat(pa.scalar(latency_ms, pa.float64()), n),
            pc.cast(pc.fill_null(pc.utf8_length(rb.column(text_idx)), 0), pa.int32()),
            pc.cast(pc.utf8_length(extracted), pa.int32()),
        ]
        keep_idx = [i for i, name in enumerate(rb.schema.names) if name != "text"]
        cols = [rb.column(i) for i in keep_idx] + new_cols
        names = [rb.schema.names[i] for i in keep_idx] + [f.name for f in EXTRACT_FIELDS]
        yield pa.RecordBatch.from_arrays(cols, names=names)


def _output_schema(df: DataFrame, passthrough: list[str]) -> StructType:
    """Key/passthrough columns keep their ACTUAL input types (e.g. parquet
    TIMESTAMP_NTZ vs TIMESTAMP), then the extraction fields are appended."""
    keep = [c for c in EXTRACT_KEY_COLS if c in df.columns] + passthrough
    in_fields = {f.name: f for f in df.schema.fields}
    return StructType([in_fields[c] for c in keep] + EXTRACT_FIELDS)


def extract_partitions(df: DataFrame) -> int:
    """Default partition count for the Python stage over ``df``: one task per
    core (``defaultParallelism``). Each mapInArrow task pays a fixed
    Python-worker cost before any row moves: about 0.25 s per task per core
    on workers that import pyspark from Spark's pyspark.zip, about 0.03 s on
    the site-packages workers ``get_spark`` starts in local mode (identity
    mapInArrow over 80k cached rows, 8 vs 32 tasks, local[2] on a 4-core
    box). Cutting an input into the shuffle-partitions conf (4x cores) pays
    that cost four times over. A stream keeps
    ``spark.sql.shuffle.partitions``."""
    spark = df.sparkSession
    if df.isStreaming:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark.sparkContext.defaultParallelism


def run_extract(
    df: DataFrame,
    n_partitions: int | None = None,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Transcripts-shaped df → extracted df. Lazy; caller triggers the action.

    ``passthrough`` columns (beyond the TRANSCRIPTS six) are carried through
    the Python stage unchanged (zero-copy Arrow) and appended to the output.
    A streaming ``df`` (readStream) gets the same plan minus the per-partition
    sort, which Spark refuses on a stream: ordering an unbounded stream is the
    sink's concern.

    ``n_partitions`` defaults to ``extract_partitions(df)``: one task per core.
    """
    passthrough = passthrough or []
    schema = _output_schema(df, passthrough)
    # column pruning before the Python stage: ship exactly what's needed
    in_cols = [c for c in EXTRACT_KEY_COLS if c in df.columns] + ["text"] + passthrough
    df = df.select(*in_cols)
    n = n_partitions or extract_partitions(df)
    # ONE repartition for the whole job (SURVEY.md §4): hash of
    # (conv_id, turn_idx mod salt) spreads hot conversations over salt buckets
    parts = df.repartition(n, F.col("conv_id"), F.pmod(F.col("turn_idx"), F.lit(SALT_BUCKETS)))
    # stable (conv_id, turn_idx) ordering is established BEFORE the Python
    # stage: sorting 6 narrow input columns is far cheaper than sorting the
    # wide extracted rows, and mapInArrow preserves intra-partition row order
    if not df.isStreaming:
        parts = parts.sortWithinPartitions("conv_id", "turn_idx")
    return parts.mapInArrow(extract_batches, schema=schema)


def documents_as_transcripts(docs: DataFrame) -> DataFrame:
    """Adapt a frame of the ``documents`` table, batch or stream, to the
    transcripts input shape (one doc = a single-turn conversation), keeping
    lang/source as passthrough."""
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
        "lang",
        "source",
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query (driver smoke): extraction kernel over ``documents`` +
    an agg_hash rollup by (lang, payload_kind). Stable schema, rows > 0."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ext = run_extract(documents_as_transcripts(docs), passthrough=["lang", "source"])
    return (
        ext.groupBy("lang", "payload_kind")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_in").alias("chars_in"),
            F.sum("n_chars_out").alias("chars_out"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang", "payload_kind")
    )


__all__ = [
    "EXTRACTOR_VERSION",
    "TRANSCRIPTS",
    "SALT_BUCKETS",
    "extract_batches",
    "extract_partitions",
    "run_extract",
    "documents_as_transcripts",
    "flagship",
]

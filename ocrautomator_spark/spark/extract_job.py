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
                                            vectorized ListArray/StructArray)
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


def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow-batched extraction: one Python crossing, kernel applied per row
    within the batch (string-at-a-time like Tesseract was document-at-a-time,
    but batching amortizes transfer + interpreter overhead and all pre/post
    processing stays JVM-side). Output spans are assembled as flat Arrow
    child arrays + offsets — no per-row Python dicts cross the boundary."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    for rb in batches:
        t0 = time.perf_counter()
        text_idx = rb.schema.get_field_index("text")
        texts = rb.column(text_idx).to_pylist()
        results = [extract_one(t) for t in texts]

        # ExtractResult and Span are NamedTuples, so zip(*...) unzips the
        # whole batch at C speed — no per-row/per-span Python append loops.
        ext_texts, span_lists, pks = zip(*results) if results else ((), (), ())
        flat_spans = [s for spans in span_lists for s in spans]
        if flat_spans:
            starts, ends, kinds = zip(*flat_spans)
        else:
            starts = ends = kinds = ()
        offsets = list(accumulate(map(len, span_lists), initial=0))
        span_structs = pa.StructArray.from_arrays(
            [pa.array(starts, pa.int32()), pa.array(ends, pa.int32()), pa.array(kinds, pa.string())],
            fields=list(_SPAN_TYPE),
        )
        spans = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), span_structs)

        extracted = pa.array(ext_texts, pa.string())
        latency_ms = (time.perf_counter() - t0) * 1000.0
        n = rb.num_rows
        new_cols = [
            extracted,
            spans,
            pa.array(pks, pa.string()),
            pa.array([EXTRACTOR_VERSION] * n, pa.string()),
            pa.array([pid] * n, pa.int32()),
            pa.array([latency_ms] * n, pa.float64()),
            pc.cast(pc.utf8_length(rb.column(text_idx)), pa.int32()),
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

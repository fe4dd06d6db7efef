"""Extraction-engine query entries (the engine's core capability, §2A/§2E).

These run the FULL distributed extract pipeline (salted repartition →
mapInArrow kernel → ordered output). Because ``documents.text`` is clean
single-paragraph plain text (verified: no newlines, no double spaces, no edge
whitespace at every scale factor), the kernel's plain path is exact identity
— which makes the whole pipeline's output SQL-expressible, so the driver's
DuckDB gate checks the real extraction job, not just a smoke run. The
markup-payload behavior is covered by the sequential-vs-distributed equality
harness (tests/test_equality_harness.py) and the golden corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocrautomator_spark.kernel.extractor import EXTRACTOR_VERSION
from ocrautomator_spark.queries.common import q
from ocrautomator_spark.spark.extract_job import documents_as_transcripts, flagship, run_extract


@q(
    "extract_flagship",
    """
    SELECT lang, 'plain' AS payload_kind,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS chars_in,
           CAST(SUM(length(text)) AS BIGINT) AS chars_out,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def extract_flagship(spark: SparkSession, sf: str) -> DataFrame:
    return flagship(spark, sf)


@q(
    "extract_full",
    f"""
    SELECT CAST(doc_id AS VARCHAR) AS conv_id,
           CAST(0 AS INT) AS turn_idx,
           'plain' AS payload_kind,
           text AS extracted_text,
           CAST(1 AS INT) AS n_spans,
           '{EXTRACTOR_VERSION}' AS extractor_version,
           CAST(length(text) AS INT) AS n_chars_in,
           CAST(length(text) AS INT) AS n_chars_out
    FROM documents
    """,
)
def extract_full(spark: SparkSession, sf: str) -> DataFrame:
    """Full extracted table over documents-as-transcripts: keys + extracted
    text + spans + lineage columns (nondeterministic lineage — partition id,
    batch latency — excluded from the checked projection)."""
    ext = run_extract(documents_as_transcripts(spark, sf))
    return ext.select(
        "conv_id",
        "turn_idx",
        "payload_kind",
        "extracted_text",
        F.size("spans").alias("n_spans"),
        "extractor_version",
        "n_chars_in",
        "n_chars_out",
    )


MIN_PIPE_WORDS = 8  # quality gate of the composed pipeline


@q(
    "pipeline_e2e",
    f"""
    WITH ext AS (
      SELECT CAST(doc_id AS VARCHAR) AS conv_id, text AS extracted_text, lang
      FROM documents),
    kept AS (
      SELECT * FROM ext
      WHERE len(string_split(extracted_text, ' ')) >= {MIN_PIPE_WORDS}),
    ded AS (
      SELECT MIN(conv_id) AS keeper,
             arg_min(lang, conv_id) AS lang,
             MIN(length(extracted_text)) AS n_chars
      FROM kept GROUP BY sha256(extracted_text))
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM ded GROUP BY lang
    """,
)
def pipeline_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """The composed training-data pipeline in one job: distributed extraction
    (salted repartition → mapInArrow kernel) → quality gate (min word count
    on the EXTRACTED text) → exact dedup keyed on sha2-256(extracted_text)
    (collision-resistant: md5 collisions are mintable on an untrusted corpus
    and would silently drop documents) with min-conv_id keeper → per-language
    corpus rollup. One extraction pass, one dedup shuffle on a fixed-width
    key, one agg — the shape a 100 TB corpus build actually runs. Oracled
    exactly via the plain-text identity."""
    ext = run_extract(documents_as_transcripts(spark, sf), passthrough=["lang"])
    kept = ext.filter(F.size(F.split("extracted_text", " ")) >= MIN_PIPE_WORDS)
    ded = kept.groupBy(F.sha2(F.encode("extracted_text", "utf-8"), 256).alias("_k")).agg(
        F.min("conv_id").alias("keeper"),
        F.min_by("lang", "conv_id").alias("lang"),
        F.min(F.length("extracted_text")).alias("n_chars"),
    )
    return ded.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@q(
    "streaming_extract",
    f"""
    SELECT CAST(doc_id AS VARCHAR) AS conv_id,
           CAST(0 AS INT) AS turn_idx,
           'plain' AS payload_kind,
           text AS extracted_text,
           CAST(1 AS INT) AS n_spans,
           '{EXTRACTOR_VERSION}' AS extractor_version,
           CAST(length(text) AS INT) AS n_chars_in,
           CAST(length(text) AS INT) AS n_chars_out
    FROM documents
    """,
)
def streaming_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous extraction: documents arrive as files on a readStream, flow
    through the SAME salted-repartition → mapInArrow kernel spine micro-batch
    by micro-batch (``run_extract`` on a streaming frame), and append to the
    sink. Hash-oracled via the plain-text identity — a REAL Structured
    Streaming execution gated on exact equality with batch SQL."""
    from ocrautomator_spark.streaming.jobs import run_to_memory

    d = _symlink_dir(sf, ["documents.parquet"])
    sdf = spark.readStream.schema(_doc_schema()).parquet(d)
    tdf = sdf.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    ext = run_extract(tdf)
    return run_to_memory(
        ext,
        "append",
        lambda df: df.select(
            "conv_id",
            "turn_idx",
            "payload_kind",
            "extracted_text",
            F.size("spans").alias("n_spans"),
            "extractor_version",
            "n_chars_in",
            "n_chars_out",
        ),
    )


def _symlink_dir(sf: str, names: list[str]) -> str:
    """Docs-stream dir: sf/documents.parquet exposed under the given link
    names (multiple links make the corpus 'arrive' that many times)."""
    from ocrautomator_spark.streaming.jobs import stream_link_dir

    return stream_link_dir(f"{sf}/documents.parquet", names, prefix="ocras_docstream")


def _doc_schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )


@q(
    "streaming_dedup_docs",
    """
    SELECT CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_unique_docs
    FROM documents
    """,
)
def streaming_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental corpus dedup as a REAL streaming job: the corpus 'arrives'
    TWICE (two file links), gets deduplicated by sha2-256(text) — the
    fixed-width collision-resistant content key (md5 merges are mintable) —
    via dropDuplicates inside the stream, and the sink count
    must equal batch COUNT(DISTINCT sha256(text)): without working stateful
    dedup the result would be 2×. On a real cluster this is the continuous
    ingest-side dedup in front of the extract pipeline."""
    from ocrautomator_spark.streaming.jobs import run_to_memory

    d = _symlink_dir(sf, ["copy1.parquet", "copy2.parquet"])
    sdf = spark.readStream.schema(_doc_schema()).parquet(d)
    deduped = sdf.select(
        "doc_id", F.sha2(F.encode("text", "utf-8"), 256).alias("k")
    ).dropDuplicates(["k"])
    # count(*) over the SINK, not count_distinct: the gate must fail (2×) if
    # the stream's stateful dedup stops working — a distinct-count here would
    # re-deduplicate and make the oracle comparison vacuous
    return run_to_memory(
        deduped,
        "append",
        lambda df: df.agg(F.count("*").alias("n_unique_docs")),
    )


@q(
    "extract_span_stats",
    """
    SELECT 'content' AS kind,
           COUNT(*) AS n_spans,
           CAST(SUM(length(text)) AS BIGINT) AS covered_chars
    FROM documents
    """,
)
def extract_span_stats(spark: SparkSession, sf: str) -> DataFrame:
    ext = run_extract(documents_as_transcripts(spark, sf))
    return (
        ext.select("conv_id", F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("s.end") - F.col("s.start")).alias("covered_chars"),
        )
    )

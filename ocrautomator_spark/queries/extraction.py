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
from ocrautomator_spark.queries.common import T, q
from ocrautomator_spark.spark.extract_job import documents_as_transcripts, flagship, run_extract
from ocrautomator_spark.streaming.jobs import DOCUMENTS_SCHEMA, run_to_memory, stream_link_dir

# extract_full and streaming_extract: the extracted rows of every document,
# which the plain-text identity makes the document itself
_EXTRACTED_ROWS_SQL = f"""
    SELECT CAST(doc_id AS VARCHAR) AS conv_id,
           CAST(0 AS INT) AS turn_idx,
           'plain' AS payload_kind,
           text AS extracted_text,
           CAST(1 AS INT) AS n_spans,
           '{EXTRACTOR_VERSION}' AS extractor_version,
           CAST(length(text) AS INT) AS n_chars_in,
           CAST(length(text) AS INT) AS n_chars_out
    FROM documents
    """


def _extracted_rows(ext: DataFrame) -> DataFrame:
    """The checked projection of an extracted table: keys + extracted text +
    span count + lineage columns (nondeterministic lineage — partition id,
    batch latency — excluded)."""
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


@q("extract_full", _EXTRACTED_ROWS_SQL)
def extract_full(spark: SparkSession, sf: str) -> DataFrame:
    """Full extracted table over documents-as-transcripts."""
    return _extracted_rows(run_extract(documents_as_transcripts(T(spark, sf, "documents"))))


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
    ext = run_extract(documents_as_transcripts(T(spark, sf, "documents")), passthrough=["lang"])
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


@q("streaming_extract", _EXTRACTED_ROWS_SQL)
def streaming_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous extraction: documents arrive as files on a readStream, flow
    through the SAME salted-repartition → mapInArrow kernel spine micro-batch
    by micro-batch (``run_extract`` on a streaming frame), and append to the
    sink. Hash-oracled via the plain-text identity — a REAL Structured
    Streaming execution gated on exact equality with batch SQL."""
    d = _symlink_dir(sf, ["documents.parquet"])
    sdf = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(d)
    return run_to_memory(run_extract(documents_as_transcripts(sdf)), "append", _extracted_rows)


def _symlink_dir(sf: str, names: list[str]) -> str:
    """Docs-stream dir: sf/documents.parquet exposed under the given link
    names (multiple links make the corpus 'arrive' that many times)."""
    return stream_link_dir(f"{sf}/documents.parquet", names, prefix="ocras_docstream")


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
    d = _symlink_dir(sf, ["copy1.parquet", "copy2.parquet"])
    sdf = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(d)
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
    ext = run_extract(documents_as_transcripts(T(spark, sf, "documents")))
    return (
        ext.select("conv_id", F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("s.end") - F.col("s.start")).alias("covered_chars"),
        )
    )

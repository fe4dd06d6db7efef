"""SURVEY.md §2B — vectorized Python UDF rows (pandas_udf / applyInPandas /
mapInPandas). Per the input_hint (BASELINE.json:15): NO per-row Python UDFs
anywhere — every Python crossing is Arrow-batched.

Determinism note for oracles: inside UDFs we aggregate integers exactly
(int64 sums) and divide once, so the resulting doubles are bit-identical to
the SQL twins.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ocrautomator_spark.queries.common import T, q


@q(
    "udf_scalar_pandas",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars_computed
    FROM documents
    """,
)
def udf_scalar_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """Series→Series pandas UDF (Arrow-vectorized scalar path)."""

    @pandas_udf("int")
    def n_tokens(s: pd.Series) -> pd.Series:
        # single-space split to match the SQL twin exactly
        return s.str.split(" ").str.len().astype("int32")

    @pandas_udf("long")
    def n_chars(s: pd.Series) -> pd.Series:
        return s.str.len().astype("int64")

    d = T(spark, sf, "documents")
    return d.select(
        "doc_id",
        n_tokens("text").alias("n_tokens"),
        n_chars("text").alias("n_chars_computed"),
    )


@q(
    "udaf_grouped",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def udaf_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (Series→scalar per group)."""

    @pandas_udf("long")
    def exact_sum(v: pd.Series) -> int:
        return int(v.sum())  # int64 accumulation: exact, order-independent

    @pandas_udf("long")
    def exact_count(v: pd.Series) -> int:
        return len(v)

    # pandas grouped-agg UDFs cannot mix with JVM aggregates in one agg();
    # both aggregates go through the pandas path
    d = T(spark, sf, "documents")
    return (
        d.groupBy("lang")
        .agg(
            exact_count("n_chars").alias("n_docs"),
            exact_sum("n_chars").alias("total_chars"),
        )
        .withColumn("avg_chars", F.col("total_chars").cast("double") / F.col("n_docs"))
    )


@q(
    "udtf_grouped_map",
    """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def udtf_grouped_map(spark: SparkSession, sf: str) -> DataFrame:
    """groupBy().applyInPandas — grouped map where each group is processed as
    one pandas frame (the per-conversation-reflow shape in the extract engine)."""

    def per_lang(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("source", sort=True)["n_chars"]
        out = g.agg(n_docs="count", chars="sum", max_chars="max").reset_index()
        out.insert(0, "lang", pdf["lang"].iloc[0])
        return out[["lang", "source", "n_docs", "chars", "max_chars"]]

    d = T(spark, sf, "documents").select("lang", "source", "n_chars")
    return d.groupBy("lang").applyInPandas(
        per_lang, "lang string, source string, n_docs bigint, chars bigint, max_chars bigint"
    )


@q(
    "udtf_map",
    """
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT) AS n_words,
           CAST(length(replace(text, ' ', '')) AS INT) AS n_nonspace
    FROM documents
    """,
)
def udtf_map(spark: SparkSession, sf: str) -> DataFrame:
    """mapInPandas — iterator-of-batches table function (1 batch → N rows);
    per-batch setup amortized, exactly like the extraction kernel stage."""

    def fn(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": pdf["text"].str.count(" ").astype("int32") + 1,
                    "n_nonspace": pdf["text"].str.replace(" ", "", regex=False).str.len().astype("int32"),
                }
            )

    d = T(spark, sf, "documents").select("doc_id", "text")
    return d.mapInPandas(fn, "doc_id long, n_words int, n_nonspace int")

"""SURVEY.md §2B — scalar function rows: string, datetime, math, array
(incl. higher-order functions), map/JSON.

Cross-engine determinism rules (see queries/__init__.py): only IEEE-exact
scalar ops in oracled projections (+,-,*,/, sqrt, floor/ceil, abs, casts);
no libm-dependent pow/ln in value-hashed output; timestamps cast to string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocrautomator_spark.queries.common import T, davg_sql, dsum, dsum_sql, q


@q(
    "scalar_string",
    """
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           upper(p_brand) AS brand_upper,
           string_split(p_name, ' ')[1] AS first_word,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           substring(p_type, 1, 3) AS type_prefix,
           length(p_name) AS name_len,
           concat_ws('-', p_brand, p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           trim(concat('  ', p_name, ' ')) AS name_trim,
           levenshtein(string_split(p_name, ' ')[1], p_type) AS lev
    FROM part
    """,
)
def scalar_string(spark: SparkSession, sf: str) -> DataFrame:
    p = T(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("name_trim"),
        F.levenshtein(F.split("p_name", " ").getItem(0), F.col("p_type")).alias("lev"),
    )


@q(
    "scalar_datetime",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dom,
           quarter(o_orderdate) AS qtr,
           dayofweek(o_orderdate) + 1 AS dow,
           CAST(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS VARCHAR) AS month_start,
           date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
           CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS VARCHAR) AS due_date,
           CAST(epoch(o_orderdate) AS BIGINT) AS unix_sec
    FROM orders
    """,
)
def scalar_datetime(spark: SparkSession, sf: str) -> DataFrame:
    o = T(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),  # Spark: Sunday=1 == DuckDB dayofweek+1
        F.date_trunc("month", "o_orderdate").cast("string").alias("month_start"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("timestamp")).cast("long").alias("days_since"),
        F.date_add(F.col("o_orderdate"), 30).cast("string").alias("due_date"),
        # tz-free epoch for midnight-aligned dates: unix_timestamp() would
        # shift with the (unknown) driver session timezone
        (
            F.datediff("o_orderdate", F.lit("1970-01-01").cast("date")).cast("long") * 86400
        ).alias("unix_sec"),
    )


@q(
    "scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS net_price,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           abs(l_quantity - 25.0) AS qty_dev,
           sqrt(l_quantity) AS qty_sqrt,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate,
           CASE WHEN l_discount > 0.05 THEN 'hi' WHEN l_discount > 0.02 THEN 'mid' ELSE 'lo' END AS disc_band,
           CAST(floor(l_extendedprice * 100) AS BIGINT) % 97 AS price_mod
    FROM lineitem
    """,
)
def scalar_math(spark: SparkSession, sf: str) -> DataFrame:
    li = T(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double").alias("net_price"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.when(F.col("l_discount") > 0.05, "hi")
        .when(F.col("l_discount") > 0.02, "mid")
        .otherwise("lo")
        .alias("disc_band"),
        # explicit floor: DuckDB's double→BIGINT cast rounds, Spark's truncates
        (F.floor(F.col("l_extendedprice") * 100).cast("long") % 97).alias("price_mod"),
    )


@q(
    "scalar_array",
    """
    SELECT vec_id,
           len(embedding) AS n_dims,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm,
           CAST(embedding[1] AS DOUBLE) AS first_dim,
           CAST(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE) AS dim_sum,
           CAST(list_sum(list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_positive
    FROM embeddings
    """,
)
def scalar_array(spark: SparkSession, sf: str) -> DataFrame:
    """Higher-order array functions: transform/aggregate/zip_with — the
    JVM-side vectorized path for embedding math (no Python crossing)."""
    e = T(spark, sf, "embeddings")
    sq = F.zip_with("embedding", "embedding", lambda a, b: a.cast("double") * b.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)).alias("l2_norm"),
        F.element_at("embedding", 1).cast("double").alias("first_dim"),
        F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")).alias("dim_sum"),
        F.aggregate(
            F.transform("embedding", lambda x: F.when(x > 0, 1).otherwise(0)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_positive"),
    )


@q(
    "scalar_array_explode",
    """
    SELECT doc_id, i - 1 AS pos, words[i] AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         UNNEST(generate_series(1, len(words))) AS t(i)
    WHERE doc_id < 50
    """,
)
def scalar_array_explode(spark: SparkSession, sf: str) -> DataFrame:
    d = T(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))


@q(
    "scalar_map_json",
    f"""
    SELECT event_type,
           COUNT(*) AS n,
           {dsum_sql("CAST(json_extract_string(props, '$.k') AS INT)")} AS sum_k,
           {davg_sql("CAST(json_extract_string(props, '$.k') AS INT)")} AS avg_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def scalar_map_json(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(k).alias("sum_k"),
        (F.sum(k.cast("decimal(30,10)")).cast("double") / F.count(k)).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@q(
    "scalar_map_ops",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           len(json_keys(props)) AS n_keys
    FROM events WHERE event_id < 200
    """,
)
def scalar_map_ops(spark: SparkSession, sf: str) -> DataFrame:
    """from_json → MapType, then map functions (map_keys / element_at)."""
    e = T(spark, sf, "events").filter(F.col("event_id") < 200)
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )

"""Shared helpers for the query surface, and its one registry."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES = {}
ORACLES = {}


def q(name: str, oracle: str | None = None):
    """Register ``fn(spark, sf_dir) -> DataFrame`` as query ``name``, with
    its DuckDB oracle SQL when it has one. A name is registered once."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def par_scan(df: DataFrame) -> DataFrame:
    """Scan-parallelism guard for compute-heavy consumers.

    A parquet file with a single row group is an unsplittable input: the
    whole scan — and every per-row expression Catalyst fuses into the scan
    stage (digest hashing, decimal casts, array HOFs, partial aggregation,
    pandas UDFs) — runs as ONE task no matter how many cores the cluster
    has (the optimization guide's §2.5 "one huge unsplittable file" case:
    repartition immediately after the read). When the scan yields fewer
    partitions than the cluster's parallelism, round-robin repartition so
    downstream per-row compute uses every core; the shuffle moves only the
    raw table bytes, orders of magnitude less than the work it unlocks.

    Size-adaptive by construction, not a local-mode constant: on a real
    multi-file/multi-row-group table the scan already splits past
    ``defaultParallelism`` and this is a no-op decision. Apply only where
    the scan stage carries heavy per-row compute (measured: the per-offset
    digest scans and the 8-way decimal aggregation win; light probe/HOF
    scans lose more to the extra exchange than they gain — see the r7
    per-entry A/Bs in OPTIMIZATION_r07.md).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def pinned(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` at a count AQE leaves alone.

    Windows, carry-forward scans and fan-out joins are compute-heavy per
    shuffled byte, and AQE coalesces partitions by bytes only: it would
    fold such a tiny-but-hot stage onto one core. A keyed repartition on
    the key the stage clusters by adds no exchange — it IS that stage's
    exchange — and AQE never splits or coalesces a ``REPARTITION_BY_NUM``
    exchange. One partition per core, so the stage's compute uses every
    core whatever its shuffled bytes.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def dsum(col: Column | str) -> Column:
    """Order-independent exact sum of a double expression: accumulate as
    DECIMAL(30,10), return as double. Matches the DSUM SQL macro below."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(30,10)")).cast("double")


def davg(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast("decimal(30,10)")).cast("double") / F.count(c)).cast("double")


# DuckDB's native DECIMAL→DOUBLE cast is not correctly rounded (can be 1 ulp
# off Spark's BigDecimal conversion); routing through VARCHAR forces a
# correctly-rounded parse, so both engines yield the bit-identical double.
def dsum_sql(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)"


def davg_sql(expr: str) -> str:
    return f"CAST({dsum_sql(expr)} / COUNT({expr}) AS DOUBLE)"

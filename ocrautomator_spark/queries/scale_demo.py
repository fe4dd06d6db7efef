"""Scale-pattern operators as driver-gated queries (SURVEY.md §4 promoted
from tests/test_scale_patterns.py): bucketed co-located joins and dynamic
partition pruning. Testdata is small, but the PLAN is the contract — the
plan-shape tests in tests/test_scale_patterns.py assert no Exchange before
the bucketed join and a dynamicpruning subquery in the partitioned scan.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocrautomator_spark.queries.common import T, dsum, dsum_sql, q


def _sfx(sf: str, src: str = "orders") -> str:
    """Cache key for derived /tmp layouts: sf path + source parquet
    mtime/size, so a regenerated source invalidates the cached layout
    instead of serving a stale copy against a fresh oracle."""
    import pathlib

    key = sf
    p = pathlib.Path(sf) / f"{src}.parquet"
    if p.is_dir():
        # directory-style parquet: a part file rewritten in place under the
        # same name leaves the DIRECTORY stat unchanged, so the key must
        # fold in every part file's own stat
        for part in sorted(p.glob("*.parquet")):
            st = part.stat()
            key += f"|{part.name}|{st.st_mtime_ns}|{st.st_size}"
    else:
        try:
            st = p.stat()
            key += f"|{src}|{st.st_mtime_ns}|{st.st_size}"
        except OSError:
            pass  # missing source: constant key; the read itself will fail loudly
    return hashlib.md5(key.encode()).hexdigest()[:8]


def _ensure_bucketed(spark: SparkSession, sf: str) -> tuple[str, str]:
    """Write bucketed twins of orders/lineitem (8 buckets on the join key,
    sorted within buckets) once per sf dir; reuse on later calls. At 10^12
    rows this layout is written once and every subsequent join of the two
    tables is shuffle-free AND sort-free."""
    ot = f"orders_bkt_{_sfx(sf, 'orders')}"
    lt = f"lineitem_bkt_{_sfx(sf, 'lineitem')}"
    for tbl, src, key in ((ot, "orders", "o_orderkey"), (lt, "lineitem", "l_orderkey")):
        path = f"/tmp/ocras_bucketed_{tbl}"
        import pathlib

        if spark.catalog.tableExists(tbl) and (pathlib.Path(path) / "_SUCCESS").exists():
            continue
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        df = spark.read.parquet(f"{sf}/{src}.parquet")
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key).option("path", path).saveAsTable(tbl)
    return ot, lt


@q(
    "join_bucketed_colocated",
    f"""
    SELECT o.o_orderstatus,
           COUNT(*) AS n,
           {dsum_sql('l.l_quantity')} AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf: str) -> DataFrame:
    """Co-located fact-fact join over bucketed tables: both sides bucketed by
    the join key into the same bucket count, so the SortMergeJoin (forced via
    the merge hint — a broadcast would hide the point) runs with ZERO
    exchanges and zero sorts. The once-per-layout write is the 100 TB trade:
    pay one shuffle at ingest, never again."""
    ot, lt = _ensure_bucketed(spark, sf)
    li = spark.table(lt).hint("merge")
    o = spark.table(ot)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


DPP_YEAR = 1996


@q(
    "join_dpp_partitioned",
    f"""
    SELECT 'pick' AS tag, COUNT(*) AS n,
           {dsum_sql('o_totalprice')} AS sum_price
    FROM orders WHERE year(o_orderdate) = {DPP_YEAR}
    """,
)
def join_dpp_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out partitioned by
    year; joining it to a filtered dim makes Spark prune fact partitions AT
    RUNTIME from the dim filter's result (a 100 TB scan touches only the
    matching partitions). The partitioned write happens once per sf dir."""
    import pathlib

    path = f"/tmp/ocras_dpp_orders_{_sfx(sf)}"
    if not (pathlib.Path(path) / "_SUCCESS").exists():
        (
            spark.read.parquet(f"{sf}/orders.parquet")
            .withColumn("yr", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("yr")
            .parquet(path)
        )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(DPP_YEAR - 1, "skip"), (DPP_YEAR, "pick"), (DPP_YEAR + 1, "skip2")],
        "yr int, tag string",
    ).filter(F.col("tag") == "pick")
    return (
        fact.join(dim, "yr")
        .groupBy("tag")
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


# ------------------------------------------------------- salted skew join

# Deliberately skewed fact key: half of lineitem collapses onto supplier 0
# (the hot key), the rest spreads over l_suppkey. The dim side is the real
# supplier table — mid-sized, i.e. the regime where a production job uses a
# SHUFFLE join and a hot fact key would put ~50% of the probe side into ONE
# task. Salting is the classic fix: the fact side gets a deterministic salt
# in [0, NSALT), the dim side is replicated once per salt value, and the
# join key becomes (k, salt) — the hot key's rows spread across NSALT tasks
# while every (fact row, dim match) still joins exactly once. The salt is
# PHYSICAL only: the oracle is the plain unsalted join, which is what makes
# this entry a gate on salting correctness, not just a demo.
SKEWJ_NSALT = 8


@q(
    "join_skew_salted",
    """
    WITH f AS (SELECT CASE WHEN l_orderkey % 4 < 2 THEN 0 ELSE l_suppkey END AS k,
                      l_quantity
               FROM lineitem),
    d AS (SELECT s_suppkey AS k, s_name AS attr FROM supplier)
    SELECT f.k, d.attr, COUNT(*) AS n_rows, {DSUM} AS sum_qty
    FROM f JOIN d ON f.k = d.k
    GROUP BY f.k, d.attr
    """.replace("{DSUM}", dsum_sql("f.l_quantity")),
)
def join_skew_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Salted shuffle join of a hot-keyed fact against a mid-sized dim,
    gated against the plain unsalted join.

    Scale: without salting, hashpartitioning(k) sends ~50% of the fact
    table to the hot key's single reduce task — the canonical 100 TB
    straggler. With the salt, partitioning is (k, salt): the hot key's rows
    split NSALT ways (tests/test_scale_patterns.py asserts the max
    (k, salt) group is ~1/NSALT of the hot key's rows and that the join
    exchange carries the salt column), the dim side replicates only
    NSALT× its own (small) size, and result equality to the unsalted
    definition is the oracle gate. shuffle_hash hint pins the shuffle-join
    regime the technique exists for (AQE would otherwise broadcast this
    small dim and hide the mechanism; at the real dim sizes that force a
    shuffle join, salting is the only defense AQE's skew handling cannot
    apply to a partially-aggregated pipeline)."""
    li = T(spark, sf, "lineitem")
    sup = T(spark, sf, "supplier")
    fact = li.select(
        F.when(F.col("l_orderkey") % 4 < 2, F.lit(0))
        .otherwise(F.col("l_suppkey"))
        .alias("k"),
        "l_quantity",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SKEWJ_NSALT)).alias("salt"),
    )
    dim = sup.select(F.col("s_suppkey").alias("k"), F.col("s_name").alias("attr"))
    dim_rep = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SKEWJ_NSALT - 1)))
    ).select("k", F.col("salt").cast("bigint").alias("salt"), "attr")
    j = fact.join(dim_rep.hint("shuffle_hash"), ["k", "salt"])
    return j.groupBy("k", "attr").agg(
        F.count("*").alias("n_rows"), dsum("l_quantity").alias("sum_qty")
    )

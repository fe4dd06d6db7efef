"""SURVEY.md §2B — second tranche of relational operators: grouping sets,
scalar subquery, pivot, range-frame windows, percentiles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocrautomator_spark.queries.common import T, davg, davg_sql, dsum, dsum_sql, pinned, q


@q(
    "agg_grouping_sets",
    """
    SELECT n_name, c_mktsegment, COUNT(*) AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    c, n = T(spark, sf, "customer"), T(spark, sf, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    j.createOrReplaceTempView("gs_cn")
    return spark.sql(
        """
        SELECT n_name, c_mktsegment, COUNT(*) AS n_cust
        FROM gs_cn
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        """
    )


@q(
    "scalar_subquery",
    f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT {davg_sql('o_totalprice')} FROM orders)
    """,
)
def scalar_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Uncorrelated scalar subquery → broadcast of a 1-row aggregate; the
    decimal-exact avg makes the threshold bit-identical across engines."""
    o = T(spark, sf, "orders")
    avg_df = o.agg(davg("o_totalprice").alias("avg_price"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@q(
    "pivot_segments",
    f"""
    SELECT n_name,
           {", ".join(f"COUNT(*) FILTER (WHERE c_mktsegment = '{s}') AS {s}" for s in _SEGS)}
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def pivot_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (long → wide): one column per market segment. Values are
    enumerated explicitly — at scale an un-enumerated pivot forces an extra
    distinct-values job before the real one."""
    c, n = T(spark, sf, "customer"), T(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("c_mktsegment", _SEGS)
        .count()
        .na.fill(0, _SEGS)
    )


@q(
    "win_range_frame",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS n_similar_cheaper
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE frame (value-based window): peers within 5000 of the current
    price, not row-count based."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-5000, Window.currentRow)
    )
    return T(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", F.count("*").over(w).alias("n_similar_cheaper")
    )


@q(
    "win_distribution",
    """
    SELECT o_custkey, o_orderkey,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def win_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution window functions — exact integer-ratio doubles, so the
    oracle matches bit-for-bit."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return T(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@q(
    "win_merge_runs",
    """
    WITH l AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS new_run
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
      SELECT user_id, event_type, ts,
             SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM l
    )
    SELECT user_id, event_type, epoch_us(MIN(ts)) AS run_start_us, COUNT(*) AS n_run
    FROM g GROUP BY user_id, event_type, run_id
    """,
)
def win_merge_runs(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: merge consecutive same-type events per user into
    runs — the same windowed pattern `conversation.merge_consecutive_same_role`
    uses for double-texting repair (no per-group pandas materialization)."""
    from ocrautomator_spark.queries.windows import events_ltz

    e = events_ltz(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_run = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    run_id = F.sum(new_run).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        e.withColumn("_run", run_id)
        .groupBy("user_id", "event_type", "_run")
        .agg(F.unix_micros(F.min("ts")).alias("run_start_us"), F.count("*").alias("n_run"))
        .drop("_run")
    )


@q(
    "agg_percentile",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """Exact percentiles (continuous interpolation); the approximate twin
    (percentile_approx / t-digest) is the 100 TB path — see agg_approx for
    the sketch-based pattern."""
    li = T(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.9)).alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


# ------------------------------------------------------------- range join
# Bin width for the binned range join: >= the widest interval (0.25 + 6*0.125
# = 1.0), so every interval covers at most 2 bins and the explode factor is
# <= 2. Interval density is calibrated so each probe row matches ~2.5
# intervals per 2k intervals (~25 at sf0.1's 20k) — a genuinely overlapping
# big x big workload whose cost is O(matching pairs), not O(n*m).
_RJ_BIN = 1.0


@q(
    "join_range_binned",
    f"""
    WITH iv AS (
      SELECT p_partkey AS iv_id,
             (p_retailprice - 900.0) * 4.9 AS lo,
             (p_retailprice - 900.0) * 4.9
               + (0.25 + CAST(p_partkey % 7 AS DOUBLE) * 0.125) AS hi
      FROM part
    )
    SELECT iv_id, COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
    FROM events JOIN iv ON value >= lo AND value < hi
    GROUP BY iv_id
    """,
)
def join_range_binned(spark: SparkSession, sf: str) -> DataFrame:
    """Big x big interval (range) join WITHOUT a nested-loop plan.

    A raw `e.value >= iv.lo AND e.value < iv.hi` join has no equi key, so
    Spark can only plan BroadcastNestedLoopJoin -- O(n*m) work and a
    driver-killing broadcast once the interval side outgrows memory. The
    scale-out rewrite (the same one behind Databricks' RANGE_JOIN hint and
    Flink/Trino interval joins) quantizes the domain into fixed-width bins:

      * each interval explodes into the <=2 bins it covers
        (bin width >= max interval width bounds the explode factor),
      * each probe row lands in exactly ONE bin (floor(value / W)),
      * the join becomes a hash EQUI-join on bin, then re-filters the
        exact predicate.

    Because a probe row has exactly one bin, every qualifying
    (event, interval) pair joins exactly once -- no dedup pass needed. At
    100 TB both sides shuffle-partition on `bin`; a skewed value
    distribution concentrates bins, which AQE skew-join splitting (or a
    salt on the probe side replicated per salt on the interval side)
    handles without changing the rewrite. The interval table here is
    derived deterministically from `part` (2k overlapping intervals of
    width 2..8 mapped onto the events value domain) so the oracle can
    recompute it; the direct non-equi join IS the DuckDB oracle, pinning
    the rewrite's exactness, while the Spark side never materializes the
    quadratic pair space.
    """
    e = T(spark, sf, "events").select("value")
    p = T(spark, sf, "part")
    lo = (p.p_retailprice - F.lit(900.0)) * F.lit(4.9)
    width = F.lit(0.25) + (p.p_partkey % 7).cast("double") * F.lit(0.125)
    iv = p.select(
        p.p_partkey.alias("iv_id"), lo.alias("lo"), (lo + width).alias("hi")
    )
    # the bin join fans out ~25 interval matches per probe row. Only the
    # probe side is pinned: the interval side is small enough for AQE to
    # broadcast, and a shuffle under a broadcast build spreads rows that the
    # build then gathers into one hash table anyway.
    iv_binned = iv.withColumn(
        "bin", F.explode(F.sequence(F.floor(F.col("lo") / _RJ_BIN), F.floor(F.col("hi") / _RJ_BIN)))
    )
    ev_binned = pinned(e.withColumn("bin", F.floor(F.col("value") / _RJ_BIN)), "bin")
    return (
        ev_binned.join(iv_binned, "bin")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("iv_id")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
    )


@q(
    "agg_approx_quantile",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50_exact,
           quantile_cont(value, 0.9) AS p90_exact,
           1 AS within_tol
    FROM events GROUP BY event_type
    """,
)
def agg_approx_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch) — the 100 TB path
    when exact percentile's full sort-per-group is the bottleneck.

    Same driver-gate contract as agg_approx: the GK sketch has no DuckDB
    twin, so the gated columns are the EXACT continuous percentiles plus
    ``within_tol`` = 1 iff both approximate values land inside generous
    exact rank brackets (p50 in [p40, p60], p90 in [p80, p97]; GK at
    accuracy=10000 bounds rank error at 1e-4, so a regression would have to
    be catastrophic to flip the flag — but the approximate path genuinely
    RUNS and genuinely feeds the flag)."""
    e = T(spark, sf, "events")
    approx = F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000))
    brackets = [
        F.percentile("value", F.lit(p)).alias(n)
        for p, n in [(0.5, "p50_exact"), (0.9, "p90_exact"),
                     (0.4, "b50_lo"), (0.6, "b50_hi"), (0.8, "b90_lo"), (0.97, "b90_hi")]
    ]
    return (
        e.groupBy("event_type")
        .agg(approx.alias("ap"), *brackets)
        .select(
            "event_type",
            "p50_exact",
            "p90_exact",
            F.when(
                (F.col("ap")[0] >= F.col("b50_lo")) & (F.col("ap")[0] <= F.col("b50_hi"))
                & (F.col("ap")[1] >= F.col("b90_lo")) & (F.col("ap")[1] <= F.col("b90_hi")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("within_tol"),
        )
    )

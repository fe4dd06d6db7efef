"""Graph analytics over derived relational graphs.

PageRank joins connected components (pipeline_ops.dedup_cluster_keeper) as
the second graph-family operator. Like the k-means oracle upgrade, the
iterative algorithm is made ORACLE-ABLE by unrolling a fixed number of
power iterations and expressing each as a join+aggregate stage with the
repo's decimal-exact summation discipline (queries/common.py), so Spark and
DuckDB produce bit-identical double ranks regardless of partitioning or
visit order.

Graph: the bipartite customer<->supplier purchase graph from
orders |x| lineitem (node ids disambiguated by parity: custkey*2 even,
suppkey*2+1 odd), symmetrized so every node has out-edges (no dangling-mass
term needed). At 100 TB the per-iteration shape is one shuffle on src (edge
|x| rank join) + one shuffle on dst (contribution aggregate) — the same
partition-by-vertex pattern Pregel/GraphX use; AQE handles hub-vertex skew
by splitting oversized reduce partitions. The exception is the outdeg window
over src: it buffers all of a hub vertex's edges in one task, and AQE cannot
split a window exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocrautomator_spark.queries.common import T, q

_DAMP = 0.85
_PR_TOPK = 50

# Per-edge contribution sum with the repo decimal discipline: exact and
# order-independent, so the iterated ranks stay bit-identical across engines.
_CONTRIB_SQL = "CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)"


@q(
    "graph_pagerank_topk",
    f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT src, dst FROM pairs
      UNION ALL
      SELECT dst AS src, src AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r1 AS (
      SELECT e.dst AS node, nn.n AS n,
             CAST(0.15 AS DOUBLE) / nn.n + CAST({_DAMP} AS DOUBLE) *
               {_CONTRIB_SQL.format(expr="(CAST(1.0 AS DOUBLE) / nn.n) / d.outdeg")} AS r
      FROM edges e JOIN deg d ON e.src = d.src CROSS JOIN nn
      GROUP BY e.dst, nn.n
    ),
    r2 AS (
      SELECT e.dst AS node,
             CAST(0.15 AS DOUBLE) / r1.n + CAST({_DAMP} AS DOUBLE) *
               {_CONTRIB_SQL.format(expr="r1.r / d.outdeg")} AS pr
      FROM edges e JOIN deg d ON e.src = d.src JOIN r1 ON r1.node = e.src
      GROUP BY e.dst, r1.n
    )
    SELECT node, pr FROM r2 ORDER BY pr DESC, node LIMIT {_PR_TOPK}
    """,
)
def graph_pagerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Damped PageRank, 2 power iterations unrolled, top-K by rank.

    Each iteration: edges join the current rank vector on src (shuffle on
    src), per-edge contribution r(src)/outdeg(src) aggregated per dst with
    the decimal-exact sum (shuffle on dst), then the damping affine
    transform. Uniform init 1/N. The symmetric bipartite graph guarantees
    every node both sends and receives mass, so no dangling/isolated-node
    correction terms are needed and the inner joins are lossless.
    """
    o, li = T(spark, sf, "orders"), T(spark, sf, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # symmetrize; directions are parity-disjoint so no re-distinct needed.
    # The edge set has THREE consumers (deg, iteration 1, iteration 2) —
    # materialize once behind an explicit barrier instead of re-running the
    # orders|x|lineitem join per consumer (the round-5 reused-exchange
    # lesson: count the subtree's consumers before relying on plan reuse).
    # r7: symmetrize by exploding each pair into its two directions in ONE
    # pass over the distinct output — the former self-union put the whole
    # pairs subtree in the plan twice and leaned on ReusedExchange to
    # deduplicate the work.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # r7: attach outdeg with a window over src instead of groupBy+join —
    # the single exchange on src replaces deg's groupBy exchange AND the
    # join, and ONE checkpoint (edges-with-outdeg) replaces the former two
    # materializations (bare edges, then edges |x| deg).
    from pyspark.sql.window import Window

    ed = edges.withColumn(
        "outdeg", F.count("*").over(Window.partitionBy("src"))
    ).localCheckpoint()
    nn = ed.agg(F.count_distinct("src").alias("n"))

    def _step(rank_of_src, contrib_col):
        """One power iteration: join ranks onto edges by src, aggregate
        decimal-exact contributions per dst, apply the damping affine."""
        return (
            rank_of_src.groupBy("dst", "n")
            .agg(F.sum(contrib_col.cast("decimal(30,10)")).cast("double").alias("s"))
            .select(
                F.col("dst").alias("node"),
                F.col("n"),
                (F.lit(0.15) / F.col("n") + F.lit(_DAMP) * F.col("s")).alias("r"),
            )
        )

    it1_in = ed.crossJoin(F.broadcast(nn))
    r1 = _step(it1_in, (F.lit(1.0) / F.col("n")) / F.col("outdeg"))
    it2_in = ed.join(
        r1.select(F.col("node").alias("src"), F.col("r").alias("r_prev"), "n"), "src"
    )
    r2 = _step(it2_in, F.col("r_prev") / F.col("outdeg"))
    return (
        r2.select("node", F.col("r").alias("pr"))
        .orderBy(F.col("pr").desc(), F.col("node"))
        .limit(_PR_TOPK)
    )

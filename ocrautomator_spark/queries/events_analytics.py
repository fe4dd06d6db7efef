"""Event-stream analytics over the ``events`` table — the clickstream side
of a web-scale corpus pipeline (sessionization, funnels, cohort retention,
last-touch attribution). These are the query shapes a crawl/telemetry store
answers next to the document store, and each is built to hold at 100 TB:
every entry shuffles ONCE on ``user_id`` and every later per-user step
(running windows, session aggs, stage joins) reuses that partitioning —
HashPartitioning(user_id) satisfies any clustering whose keys include
user_id, so Catalyst inserts no further Exchange.

Timestamp discipline (CLAUDE.md invariant): events are read with the
explicit LTZ schema the streaming jobs use; every emitted time value is
epoch-microsecond integer arithmetic (bit-identical under any session
timezone), and the only derived double is a single integer-difference
division — IEEE-identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocrautomator_spark.queries.common import pinned, q
from ocrautomator_spark.streaming import jobs as sj

# Session gap threshold: 8 h in microseconds. The synthetic corpus has a
# ~7.3 h median inter-event gap per user, so this splits real islands
# (roughly half the gaps start a new session) instead of degenerating to
# one-event or one-giant sessions.
SESSION_GAP_US = 8 * 3600 * 1_000_000

US_PER_DAY = 86_400_000_000


def _events(spark: SparkSession, sf: str) -> DataFrame:
    ev = spark.read.schema(sj.EVENTS_SCHEMA).parquet(f"{sf}/events.parquet")
    ev = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t"),
    )
    # the family's ONE exchange: hashpartitioning(user_id) satisfies every
    # downstream clustering
    return pinned(ev, "user_id")


_SQL_E = "SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events"


# ------------------------------------------------------------ sessionization

# ONE oracle gates both executions of the gap rule: the batch two-window
# construction AND the stateful streaming operator (run to completion over
# the same events, they must agree row-for-row).
_SESSIONIZE_SQL = f"""
    WITH e AS ({_SQL_E}),
    g AS (SELECT *, CASE WHEN LAG(t) OVER w IS NULL
                           OR t - LAG(t) OVER w > {SESSION_GAP_US}
                         THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess
          FROM g)
    SELECT user_id, CAST(sess AS INT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(t) AS session_start_us, MAX(t) AS session_end_us,
           CAST((MAX(t) - MIN(t)) / 1000000.0 AS DOUBLE) AS duration_sec
    FROM s GROUP BY user_id, sess
"""


@q("events_sessionize", _SESSIONIZE_SQL)
def events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands sessionization: a session breaks when the per-user
    inter-event gap exceeds SESSION_GAP_US. Classic two-window construction
    (new-session flag via lag, session ordinal via running sum), then one
    per-session aggregate.

    Scale: ONE Exchange total — both windows and the final groupBy cluster
    on user_id (hashpartitioning(user_id) satisfies the (user_id, sess)
    grouping), so session assembly never reshuffles. Per-user state is a
    sort within the partition; skewed power users are bounded by their own
    event count, not corpus size."""
    e = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    new_s = F.when(
        F.lag("t").over(w).isNull() | (F.col("t") - F.lag("t").over(w) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    s = e.withColumn("sess", F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return s.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("t").alias("session_start_us"),
        F.max("t").alias("session_end_us"),
        ((F.max("t") - F.min("t")) / F.lit(1000000.0)).cast("double").alias("duration_sec"),
    ).select(
        "user_id",
        F.col("sess").cast("int").alias("session_idx"),
        "n_events",
        "session_start_us",
        "session_end_us",
        "duration_sec",
    )


@q("streaming_sessionize", _SESSIONIZE_SQL)
def streaming_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """REAL streaming execution of the sessionize gap rule: a custom
    stateful operator (applyInPandasWithState) carries each user's open
    session across microbatches and re-emits extents in update mode; the
    sink's max-per-(user, session) rows are the completed sessions. Gated by
    the SAME DuckDB oracle as the batch entry — a streaming run to
    completion must reproduce the batch answer exactly.

    Scale: state is O(active users) × 4 longs; emission is O(sessions
    touched per batch). The file source is swapped for Kafka/Iceberg plus a
    durable checkpointLocation in deployment (see streaming/jobs.py)."""
    return sj.stateful_sessionize(spark, sf, gap_us=SESSION_GAP_US)


# ------------------------------------------------------------------- funnel

@q(
    "events_funnel",
    f"""
    WITH e AS ({_SQL_E}),
    v AS (SELECT user_id, MIN(t) AS t_view FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.t) AS t_click
          FROM e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.t > v.t_view GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.t) AS t_purchase
          FROM e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.t > c.t_click GROUP BY e.user_id)
    SELECT * FROM (
      SELECT 1 AS stage_idx, 'view' AS stage, COUNT(*) AS n_users FROM v
      UNION ALL
      SELECT 2, 'view>click', COUNT(*) FROM c
      UNION ALL
      SELECT 3, 'view>click>purchase', COUNT(*) FROM p)
    """,
)
def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel: users whose first 'view' precedes a later
    'click' which precedes a later 'purchase'. Strictly ordered — a purchase
    BEFORE the qualifying click does not count, which is what makes this a
    funnel and not three independent counts.

    Scale: each stage is a groupBy(user_id) joined to the previous stage on
    user_id — every operator clusters on the same key, so after the first
    per-stage shuffle the joins co-locate (at small scale AQE broadcasts the
    shrinking stage dims instead, which is also right). Stage outputs shrink
    monotonically, so the chain gets cheaper as it deepens."""
    e = _events(spark, sf)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("t") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )

    def stage(df: DataFrame, idx: int, label: str) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(label).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return (
        stage(v, 1, "view")
        .unionAll(stage(c, 2, "view>click"))
        .unionAll(stage(p, 3, "view>click>purchase"))
    )


# -------------------------------------------------------------- retention

@q(
    "events_retention_cohort",
    f"""
    WITH e AS ({_SQL_E}),
    f AS (SELECT user_id, CAST(MIN(t) // {US_PER_DAY} AS BIGINT) AS cohort_day
          FROM e GROUP BY user_id)
    SELECT f.cohort_day,
           CAST(e.t // {US_PER_DAY} AS BIGINT) - f.cohort_day AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_retention_cohort(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day (epoch-day
    integer — pure integer division, no calendar/timezone functions), counted
    distinct at each day offset they return on. The triangle a growth
    dashboard renders.

    Scale: first-touch groupBy(user_id) and the enrich join share the
    user_id clustering; the final (cohort_day, day_offset) agg is the one
    genuine reshuffle and its key space is tiny (days × offsets), with
    map-side partial distinct on user_id keeping the shuffle small."""
    e = _events(spark, sf)
    f = e.groupBy("user_id").agg(
        F.expr(f"CAST(MIN(t) DIV {US_PER_DAY} AS BIGINT)").alias("cohort_day")
    )
    return (
        e.join(f, "user_id")
        .select(
            "cohort_day",
            (F.expr(f"CAST(t DIV {US_PER_DAY} AS BIGINT)") - F.col("cohort_day")).alias(
                "day_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ------------------------------------------------------------- attribution

@q(
    "events_attribution_last_touch",
    f"""
    WITH e AS ({_SQL_E}),
    w AS (SELECT *,
            LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN t END
                       IGNORE NULLS) OVER tw AS touch_t,
            LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN event_id END
                       IGNORE NULLS) OVER tw AS touch_event_id,
            LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN event_type END
                       IGNORE NULLS) OVER tw AS touch_type
          FROM e
          WINDOW tw AS (PARTITION BY user_id ORDER BY t, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id, touch_event_id, touch_type,
           CAST((t - touch_t) / 1000000.0 AS DOUBLE) AS latency_sec
    FROM w WHERE event_type = 'purchase'
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most recent
    preceding view/click by the same user — carry-forward window (last
    non-null over UNBOUNDED PRECEDING..1 PRECEDING), the same no-range-
    explosion construction as join_asof. Purchases with no prior touch keep
    NULL attribution rather than being dropped.

    Scale: ONE Exchange (the user_id window); the carry-forward is a single
    sorted pass per user, never a per-purchase backward scan, so cost is
    linear in events regardless of touch density."""
    e = _events(spark, sf)
    tw = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")

    def carry(col: str):
        return F.last(F.when(is_touch, F.col(col)), ignorenulls=True).over(tw)

    w = e.select(
        "event_id",
        "user_id",
        "event_type",
        "t",
        carry("t").alias("touch_t"),
        carry("event_id").alias("touch_event_id"),
        carry("event_type").alias("touch_type"),
    )
    return w.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "touch_event_id",
        "touch_type",
        ((F.col("t") - F.col("touch_t")) / F.lit(1000000.0)).cast("double").alias("latency_sec"),
    )


@q(
    "events_path_transitions",
    """
    WITH o AS (SELECT user_id, event_type, ts, event_id,
                      LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS next_type
               FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           COUNT(*) AS n_transitions
    FROM o WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_path_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Path/sequence analytics: the event-type transition matrix (Markov
    view of user journeys) — for each user's time-ordered stream, count
    (this event → next event) pairs across the corpus. The building block
    of funnel discovery and next-action modeling, complementing the FIXED
    funnel of events_funnel.

    Scale: one user_id shuffle (shared with the rest of the events family),
    a narrow lead() window, then a tiny (|event types|²) aggregate with
    map-side partials — no joins at all."""
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    o = _events(spark, sf).withColumn("next_type", F.lead("event_type").over(w))
    return (
        o.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count("*").alias("n_transitions"))
    )

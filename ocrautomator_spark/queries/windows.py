"""SURVEY.md §2B — event-time windowing: batch twins (F.window /
session_window in batch mode) AND real Structured Streaming executions, both
verified against the same DuckDB oracles.

Timezone hardening: events are read with an explicit TIMESTAMP (LTZ) schema
(watermarks require LTZ), and all window boundaries are emitted as
epoch-MICROSECOND INTEGERS (`unix_micros`), never rendered strings — so the
results are bit-identical under ANY session timezone the caller's
SparkSession happens to use. DuckDB side: ``epoch_us``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocrautomator_spark.queries.common import q
from ocrautomator_spark.streaming import jobs as sj


def events_ltz(spark: SparkSession, sf: str) -> DataFrame:
    """Batch read with the same explicit LTZ schema the stream uses."""
    return spark.read.schema(sj.EVENTS_SCHEMA).parquet(f"{sf}/events.parquet")


SQL_TUMBLING = """
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
"""

SQL_SLIDING = """
    SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes') AS window_start_us,
           event_type, COUNT(*) AS n
    FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) AS k(k)
    GROUP BY 1, 2
"""

# gaps-and-islands: new session when gap >= 30 min (Spark session windows are
# half-open [start, last+gap), so an event exactly at the close starts anew)
SQL_SESSION = """
    WITH l AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    g AS (
      SELECT user_id, ts,
             -- (ts, event_id) tie-break matches the LAG window above, so
             -- duplicate (user_id, ts) rows get deterministic session ids
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      FROM l)
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id, sid
"""

SQL_DEDUP = "SELECT COUNT(*) AS n_unique_pairs FROM (SELECT DISTINCT user_id, event_type FROM events)"

# batch twin of the stream-stream interval join: every (view, click) pair for
# the same user with the click landing in [view_ts, view_ts + 30 min)
SQL_JOIN_INTERVAL = """
    SELECT l.user_id,
           l.event_id AS view_eid,
           r.event_id AS click_eid,
           epoch_us(l.ts) AS view_ts_us,
           epoch_us(r.ts) AS click_ts_us
    FROM events l
    JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts < l.ts + INTERVAL 30 MINUTE
    WHERE l.event_type = 'view' AND r.event_type = 'click'
"""

SQL_STATEFUL = "SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id"

# batch twin of the stream-stream LEFT OUTER interval join: the match set of
# SQL_JOIN_INTERVAL plus null-click rows for unmatched views — but ONLY the
# unmatched views whose join window closed under the final watermark: views
# newer than that are still buffered join state when the bounded run ends,
# so the oracle reproduces Spark's eviction boundary in SQL rather than
# pretending the stream equals a plain batch LEFT JOIN. Two empirically
# pinned watermark details (probed via StreamingQuery.recentProgress):
# the global watermark is the MIN over both watermark nodes — each sees only
# its own filtered stream, so w = least(max view ts, max click ts) − 1 h —
# and event-time stats are millisecond-truncated before the delay subtract.
SQL_JOIN_INTERVAL_OUTER = """
    WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         wm AS (
           SELECT (epoch_us(LEAST((SELECT MAX(ts) FROM v), (SELECT MAX(ts) FROM c)))
                   // 1000) * 1000 - 3600000000 AS w_us
         )
    SELECT v.user_id, v.event_id AS view_eid, c.event_id AS click_eid,
           epoch_us(v.ts) AS view_ts_us, epoch_us(c.ts) AS click_ts_us
    FROM v JOIN c
      ON v.user_id = c.user_id AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT v.user_id, v.event_id AS view_eid, CAST(NULL AS BIGINT) AS click_eid,
           epoch_us(v.ts) AS view_ts_us, CAST(NULL AS BIGINT) AS click_ts_us
    FROM v CROSS JOIN wm
    WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = v.user_id AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 30 MINUTE
          )
      AND epoch_us(v.ts) + 1800000000 < wm.w_us
"""


# ---- batch twins ----

@q("win_tumbling", SQL_TUMBLING)
def win_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    return (
        events_ltz(spark, sf)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros("win.start").alias("window_start_us"), "event_type", "n")
    )


@q("win_sliding", SQL_SLIDING)
def win_sliding(spark: SparkSession, sf: str) -> DataFrame:
    return (
        events_ltz(spark, sf)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros("win.start").alias("window_start_us"), "event_type", "n")
    )


@q("win_session", SQL_SESSION)
def win_session(spark: SparkSession, sf: str) -> DataFrame:
    return (
        events_ltz(spark, sf)
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("win.start").alias("session_start_us"),
            F.unix_micros("win.end").alias("session_end_us"),
            "n_events",
        )
    )


# ---- real Structured Streaming executions (same oracles) ----

@q("streaming_tumbling", SQL_TUMBLING)
def streaming_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    return sj.tumbling_counts(spark, sf)


@q("streaming_sliding", SQL_SLIDING)
def streaming_sliding(spark: SparkSession, sf: str) -> DataFrame:
    return sj.sliding_counts(spark, sf)


@q("streaming_session", SQL_SESSION)
def streaming_session(spark: SparkSession, sf: str) -> DataFrame:
    return sj.session_windows(spark, sf)


@q("streaming_dedup", SQL_DEDUP)
def streaming_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return sj.dedup_within_watermark(spark, sf)


@q("streaming_stateful", SQL_STATEFUL)
def streaming_stateful(spark: SparkSession, sf: str) -> DataFrame:
    return sj.stateful_counters(spark, sf)


@q("streaming_join_interval", SQL_JOIN_INTERVAL)
def streaming_join_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream inner interval join with watermarked state eviction on
    both sides — the one Structured Streaming join shape (see
    streaming/jobs.py interval_join_view_click for the eviction contract)."""
    return sj.interval_join_view_click(spark, sf)


@q("streaming_join_interval_outer", SQL_JOIN_INTERVAL_OUTER)
def streaming_join_interval_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: unmatched views emit null
    clicks only after the watermark closes their join window — the oracle
    encodes that eviction boundary in SQL (see
    streaming/jobs.py interval_join_view_click_outer)."""
    return sj.interval_join_view_click_outer(spark, sf)

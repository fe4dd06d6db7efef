"""Event-stream analytics: semantic pins + the plan shapes that make them
scale (one user_id Exchange for the window-based entries, ordered-funnel
monotonicity, cohort-triangle identities)."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from ocrautomator_spark.queries import QUERIES
from ocrautomator_spark.queries.events_analytics import SESSION_GAP_US
from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ------------------------------------------------------------- plan shape

def _n_exchanges(plan: str) -> int:
    # formatted plans list each node once in the tree and once as a
    # "(N) Exchange" detail entry — count the detail entries only
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_sessionize_single_user_exchange(spark):
    """Both windows and the session agg cluster on user_id — exactly one
    Exchange in the whole plan."""
    plan = _plan(QUERIES["events_sessionize"](spark, SF_DIR))
    assert _n_exchanges(plan) == 1
    assert "hashpartitioning(user_id" in plan


def test_attribution_single_user_exchange(spark):
    plan = _plan(QUERIES["events_attribution_last_touch"](spark, SF_DIR))
    assert _n_exchanges(plan) == 1
    assert "hashpartitioning(user_id" in plan


def test_funnel_no_cartesian(spark):
    plan = _plan(QUERIES["events_funnel"](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


# -------------------------------------------------------------- semantics

def test_sessionize_gap_invariants(spark):
    """Within a session the max internal gap is <= threshold; session count
    per user equals 1 + number of over-threshold gaps."""
    out = QUERIES["events_sessionize"](spark, SF_DIR)
    rows = out.collect()
    assert rows
    # session_idx is a dense 1..n per user
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, sess in by_user.items():
        idxs = sorted(s["session_idx"] for s in sess)
        assert idxs == list(range(1, len(idxs) + 1)), (u, idxs)
        # sessions do not overlap and consecutive sessions are > gap apart
        ordered = sorted(sess, key=lambda s: s["session_start_us"])
        for a, b in zip(ordered, ordered[1:]):
            assert b["session_start_us"] - a["session_end_us"] > SESSION_GAP_US
    # event conservation: session sizes sum to the table size
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(r["n_events"] for r in rows) == n_events


def test_funnel_counts_monotone_and_ordered(spark):
    rows = {r["stage"]: r["n_users"] for r in QUERIES["events_funnel"](spark, SF_DIR).collect()}
    assert set(rows) == {"view", "view>click", "view>click>purchase"}
    assert rows["view"] >= rows["view>click"] >= rows["view>click>purchase"] > 0
    # ordered funnel must be stricter than unordered presence-of-all-three
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    present_all = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("k"))
        .filter("k = 3")
        .count()
    )
    assert rows["view>click>purchase"] <= present_all


def test_retention_offset_zero_covers_every_user(spark):
    """Day-0 of each cohort contains the whole cohort (the first event is at
    offset 0 by construction), and offsets are never negative."""
    out = QUERIES["events_retention_cohort"](spark, SF_DIR).collect()
    assert all(r["day_offset"] >= 0 for r in out)
    day0 = sum(r["n_users"] for r in out if r["day_offset"] == 0)
    n_users = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id").distinct().count()
    assert day0 == n_users


def test_attribution_latency_positive_and_touch_precedes(spark):
    out = QUERIES["events_attribution_last_touch"](spark, SF_DIR)
    rows = out.collect()
    n_purchases = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert len(rows) == n_purchases, "every purchase appears, attributed or not"
    attributed = [r for r in rows if r["touch_event_id"] is not None]
    assert attributed
    assert all(r["latency_sec"] > 0 for r in attributed)
    assert all(r["touch_type"] in ("view", "click") for r in attributed)

"""Conversation-level operators vs a sequential pandas reference (same
pattern as the extraction equality harness: pure-python truth, window-function
implementation under test)."""

from __future__ import annotations

import pandas as pd
import pytest

from ocrautomator_spark.queries import QUERIES
from ocrautomator_spark.spark.conversation import (
    conversation_stats,
    merge_consecutive_same_role,
    response_latency,
    span_kind_profile,
    turn_gaps,
)
from ocrautomator_spark.spark.extract_job import run_extract
from ocrautomator_spark.spark.synth_job import synth_transcripts_df
from ocrautomator_spark.synth.transcripts import gen_pandas

N = 30


@pytest.fixture(scope="module")
def pdf_ref():
    return gen_pandas(N)


@pytest.fixture(scope="module")
def sdf(spark):
    return synth_transcripts_df(spark, N).cache()


def test_turn_gaps(spark, sdf, pdf_ref):
    got = {
        (r["conv_id"], r["turn_idx"]): (r["gap_sec"], r["transition"])
        for r in turn_gaps(sdf).collect()
    }
    for conv_id, g in pdf_ref.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        prev_ts, prev_role = None, None
        for row in g.itertuples():
            gap, trans = got[(conv_id, row.turn_idx)]
            if prev_ts is None:
                assert gap is None
                assert trans == row.role  # concat_ws drops the null side
            else:
                assert gap == pytest.approx((row.ts - prev_ts).total_seconds())
                assert trans == f"{prev_role}->{row.role}"
            prev_ts, prev_role = row.ts, row.role


def test_response_latency_only_user_assistant(sdf):
    rows = response_latency(sdf).collect()
    assert rows, "synthetic conversations always contain user->assistant pairs"
    assert all(5.0 <= r["response_sec"] <= 300.0 for r in rows), "gaps are 5–300 s by construction"


def test_conversation_stats(sdf, pdf_ref):
    got = {r["conv_id"]: r for r in conversation_stats(sdf).collect()}
    assert len(got) == pdf_ref["conv_id"].nunique()
    for conv_id, g in pdf_ref.groupby("conv_id"):
        r = got[conv_id]
        assert r["n_turns"] == len(g)
        assert r["n_user"] == (g["role"] == "user").sum()
        assert r["n_tool"] == (g["role"] == "tool").sum()
        assert r["total_chars"] == g["text"].str.len().sum()
        assert r["duration_sec"] == pytest.approx((g["ts"].max() - g["ts"].min()).total_seconds())


def test_merge_consecutive_same_role(spark):
    from datetime import datetime

    rows = [
        ("c", 0, "user", "hi", None, datetime(2025, 1, 1, 0, 0, 0)),
        ("c", 1, "user", "are you there", None, datetime(2025, 1, 1, 0, 0, 5)),
        ("c", 2, "assistant", "yes", None, datetime(2025, 1, 1, 0, 0, 9)),
        ("c", 3, "user", "ok", None, datetime(2025, 1, 1, 0, 1, 0)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = sorted(
        (r["turn_idx"], r["role"], r["text"], r["n_merged"])
        for r in merge_consecutive_same_role(df).collect()
    )
    assert out == [
        (0, "user", "hi\n\nare you there", 2),
        (2, "assistant", "yes", 1),
        (3, "user", "ok", 1),
    ]


def test_span_kind_profile(spark, sdf):
    ext = run_extract(sdf, n_partitions=4)
    prof = span_kind_profile(ext)
    assert set(prof.columns) == {"conv_id", "content", "heading", "code", "list"}
    rows = prof.collect()
    assert len(rows) == sdf.select("conv_id").distinct().count()
    assert sum(r["code"] for r in rows) > 0, "mixed_markup payloads produce code spans"
    assert all(r["content"] >= 0 for r in rows)


def test_adapter_text_matches_oracle_on_null_props(spark, tmp_path):
    """NULL props must produce identical text on both engines (concat_ws is
    NULL-skipping on both; a NULL-propagating `||` oracle would diverge)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocrautomator_spark.queries import conversation_q as cq

    tbl = pa.table(
        {
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000 + i * 60_000_000 for i in range(3)], pa.timestamp("us")),
            "user_id": pa.array([7, 7, 7], pa.int64()),
            "event_type": pa.array(["click", "view", "purchase"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(['{"k": 1}', None, '{"k": 2}']),  # NULL in the middle
        }
    )
    d = tmp_path / "sfnull"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")

    spark_rows = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in cq.events_as_transcripts(spark, str(d)).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
    oracle_rows = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(f"SELECT conv_id, turn_idx, text FROM ({cq.SQL_T})").fetchall()
    )
    assert spark_rows == oracle_rows
    assert spark_rows[1][2] == "view"  # NULL props → just the event type


def test_tool_chains_invariants_and_single_exchange(spark):
    """conv_tool_chains: gaps-and-islands invariants hold on the natural
    corpus (chains partition the calls; the longest chain is between the
    mean and the total), and the whole entry rides ONE conv_id exchange —
    no Expand rewrite from countDistinct, no chain-stats join."""
    import contextlib
    import io
    import re

    from tests.conftest import SF_DIR

    df = QUERIES["conv_tool_chains"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert len(set(re.findall(r"hashpartitioning\([^)]*\)", plan))) == 1, plan
    assert "Expand" not in plan
    assert "Join" not in plan

    rows = df.collect()
    assert rows, "no conversations with tool calls — adapter mapping broke"
    for r in rows:
        assert 1 <= r["n_chains"] <= r["n_tool_calls"]
        assert r["max_chain_len"] <= r["n_tool_calls"]
        # chains partition the calls: max >= ceil(mean)
        assert r["max_chain_len"] * r["n_chains"] >= r["n_tool_calls"]
        assert 1 <= r["n_distinct_tools"] <= min(3, r["n_tool_calls"])
    assert any(r["max_chain_len"] > 1 for r in rows), "no multi-call chain: vacuous"


def test_tool_chains_on_real_tool_column(spark, sdf, pdf_ref):
    """VERDICT r6 item 5: gate the tool-chain OPERATOR on the actual
    input_hint shape — the synth transcripts table carries a real ``tool``
    column (the driver's events-derived adapter only stands in for it in the
    oracled entry). Spark computes chains with the exact conv_tool_chains
    window construction over (conv_id, turn_idx, tool); a pure-pandas
    reference recomputes them independently; results must match row-for-row.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    t = sdf.select("conv_id", "turn_idx", "tool")
    wt = Window.partitionBy("conv_id").orderBy("turn_idx")
    wc = Window.partitionBy("conv_id", "chain")
    tt = (
        t.filter(F.col("tool").isNotNull())
        .withColumn("chain", F.col("turn_idx") - F.row_number().over(wt))
        .withColumn("clen", F.count("*").over(wc))
    )
    got = {
        r["conv_id"]: (
            r["n_tool_calls"], r["n_distinct_tools"], r["n_chains"], r["max_chain_len"]
        )
        for r in tt.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_tool_calls"),
            F.size(F.collect_set("tool")).cast("long").alias("n_distinct_tools"),
            F.size(F.collect_set("chain")).cast("long").alias("n_chains"),
            F.max("clen").alias("max_chain_len"),
        )
        .collect()
    }

    want = {}
    for conv_id, g in pdf_ref.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        tool_rows = g[g["tool"].notna()]
        if tool_rows.empty:
            continue
        # gaps-and-islands: consecutive turn_idx runs among tool turns
        chains = []
        cur = 0
        prev_idx = None
        for idx in tool_rows["turn_idx"]:
            if prev_idx is not None and idx == prev_idx + 1:
                cur += 1
            else:
                if cur:
                    chains.append(cur)
                cur = 1
            prev_idx = idx
        chains.append(cur)
        want[conv_id] = (
            len(tool_rows),
            tool_rows["tool"].nunique(),
            len(chains),
            max(chains),
        )

    assert want, "synth corpus must contain tool turns — vacuous otherwise"
    assert got == want

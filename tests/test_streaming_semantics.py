"""Watermark late-data semantics — the part of Structured Streaming the
batch twins can't show: in append mode, an event arriving after the watermark
has passed its window is DROPPED; an in-watermark late event still counts."""

from __future__ import annotations

import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocrautomator_spark.streaming.jobs import EVENTS_SCHEMA


def _write_events(path, rows):
    arr = {
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }
    pq.write_table(pa.table(arr), path)


def test_append_mode_drops_late_beyond_watermark(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    t = lambda h, m: datetime(2024, 1, 1, h, m)

    # batch 1: events in hours 10 and 12 → max event time 12:30,
    # watermark (10 min) = 12:20 → the 10:00 window can be finalized
    _write_events(str(indir / "f1.parquet"), [
        (1, t(10, 5), 1, "a"), (2, t(10, 20), 1, "a"), (3, t(12, 30), 1, "a"),
    ])

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros("win.start").alias("ws"), "n")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one event at 10:40 — its 10:00 window is already sealed
        # (watermark 12:20 > window end 11:00) → must be dropped
        _write_events(str(indir / "f2.parquet"), [(4, t(10, 40), 1, "a")])
        q.processAllAvailable()
        # batch 3: advance event time far enough to flush remaining windows
        _write_events(str(indir / "f3.parquet"), [(5, t(15, 0), 1, "a")])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["ws"]: r["n"] for r in spark.table(name).collect()}
    h10 = int(datetime(2024, 1, 1, 10).timestamp() * 1e6)
    h12 = int(datetime(2024, 1, 1, 12).timestamp() * 1e6)
    assert got.get(h10) == 2, f"late event must NOT be counted: {got}"
    assert got.get(h12) == 1


def test_stateful_sessionize_continues_sessions_across_microbatches(spark, tmp_path):
    """Split the events table at its global time midpoint into two files and
    force one microbatch per file (maxFilesPerTrigger=1): sessions straddling
    the split exist ONLY if the operator's carried state merges them — a
    per-batch recompute would break every straddling session in two. The
    result must equal the batch events_sessionize over the full table."""
    import os
    import time as _time

    import duckdb

    from ocrautomator_spark.queries import QUERIES
    from ocrautomator_spark.queries.events_analytics import SESSION_GAP_US
    from ocrautomator_spark.streaming.jobs import stateful_sessionize
    from tests.conftest import SF_DIR

    src = f"{SF_DIR}/events.parquet"
    con = duckdb.connect()
    mid = con.execute(
        f"SELECT CAST(AVG(epoch_us(ts)) AS BIGINT) FROM read_parquet('{src}')"
    ).fetchone()[0]
    indir = tmp_path / "in"
    indir.mkdir()
    for i, cmp in enumerate(("<=", ">")):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}') WHERE epoch_us(ts) {cmp} {mid} "
            f"ORDER BY user_id, ts, event_id) TO '{indir}/{i:03d}.parquet' (FORMAT PARQUET)"
        )
        os.utime(indir / f"{i:03d}.parquet", (1000000 + i * 100, 1000000 + i * 100))
        _time.sleep(0.05)

    # non-vacuity: at least one user's straddling gap is within the session
    # threshold, so at least one session MUST span the two microbatches
    straddle = con.execute(f"""
        WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM read_parquet('{src}')),
        a AS (SELECT user_id, MAX(t) AS last_a FROM e WHERE t <= {mid} GROUP BY user_id),
        b AS (SELECT user_id, MIN(t) AS first_b FROM e WHERE t > {mid} GROUP BY user_id)
        SELECT COUNT(*) FROM a JOIN b USING (user_id)
        WHERE first_b - last_a <= {SESSION_GAP_US}
    """).fetchone()[0]
    assert straddle > 0, "split produced no straddling sessions; test is vacuous"

    from ocrautomator_spark.streaming.jobs import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    streamed = stateful_sessionize(spark, SF_DIR, gap_us=SESSION_GAP_US, stream=stream)
    batch = QUERIES["events_sessionize"](spark, SF_DIR)
    cols = sorted(batch.columns)
    s = sorted(tuple(r) for r in streamed.select(*cols).collect())
    b = sorted(tuple(r) for r in batch.select(*cols).collect())
    assert s == b


def test_stateful_sessionize_drops_cross_batch_late_events(spark, tmp_path):
    """API-boundary guard: an event that arrives in a LATER microbatch with
    an event time before the carried state's last_t is dropped (watermark
    semantics), not silently folded into the open session. File 1 carries
    t=1s,2s; file 2 carries t=1.5s (late) and 3s — the open session must
    count 3 events, not 4."""
    import datetime
    import os
    import time as _time

    import duckdb

    from ocrautomator_spark.streaming.jobs import EVENTS_SCHEMA, stateful_sessionize
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    indir = tmp_path / "in"
    indir.mkdir()
    batches = [[1_000_000, 2_000_000], [1_500_000, 3_000_000]]
    for i, ts_list in enumerate(batches):
        vals = ", ".join(
            f"({i * 10 + j}, make_timestamp({t}), 7, 'click', 1.0, '{{}}')"
            for j, t in enumerate(ts_list)
        )
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) "
            "v(event_id, ts, user_id, event_type, value, props)) "
            f"TO '{indir}/{i:03d}.parquet' (FORMAT PARQUET)"
        )
        os.utime(indir / f"{i:03d}.parquet", (1000000 + i * 100, 1000000 + i * 100))
        _time.sleep(0.05)
    _ = datetime

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    out = stateful_sessionize(spark, SF_DIR, gap_us=8 * 3600 * 1_000_000, stream=stream)
    rows = {(r["user_id"], r["session_idx"]): r for r in out.collect()}
    assert set(rows) == {(7, 1)}, f"unexpected sessions: {rows}"
    r = rows[(7, 1)]
    assert r["n_events"] == 3, f"late event folded in: n_events={r['n_events']}"
    assert r["session_start_us"] == 1_000_000
    assert r["session_end_us"] == 3_000_000


def test_stateful_sessionize_drops_exact_replays(spark, tmp_path):
    """At-least-once guard (ADVICE r4): an event redelivered in a later
    microbatch with the SAME (t, event_id) as the last folded event is an
    exact replay and must be dropped, not folded in again. File 1 carries
    (eid=10, t=1s), (eid=11, t=2s); file 2 REPLAYS (eid=11, t=2s) and adds
    (eid=12, t=3s) — the open session must count 3 events, not 4."""
    import os
    import time as _time

    import duckdb

    from ocrautomator_spark.streaming.jobs import EVENTS_SCHEMA, stateful_sessionize
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    indir = tmp_path / "in"
    indir.mkdir()
    batches = [[(10, 1_000_000), (11, 2_000_000)], [(11, 2_000_000), (12, 3_000_000)]]
    for i, ev_list in enumerate(batches):
        vals = ", ".join(
            f"({eid}, make_timestamp({t}), 7, 'click', 1.0, '{{}}')"
            for eid, t in ev_list
        )
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) "
            "v(event_id, ts, user_id, event_type, value, props)) "
            f"TO '{indir}/{i:03d}.parquet' (FORMAT PARQUET)"
        )
        os.utime(indir / f"{i:03d}.parquet", (1000000 + i * 100, 1000000 + i * 100))
        _time.sleep(0.05)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    out = stateful_sessionize(spark, SF_DIR, gap_us=8 * 3600 * 1_000_000, stream=stream)
    rows = {(r["user_id"], r["session_idx"]): r for r in out.collect()}
    assert set(rows) == {(7, 1)}, f"unexpected sessions: {rows}"
    r = rows[(7, 1)]
    assert r["n_events"] == 3, f"replay folded in: n_events={r['n_events']}"
    assert r["session_start_us"] == 1_000_000
    assert r["session_end_us"] == 3_000_000


def test_stateful_sessionize_folds_distinct_same_timestamp_events(spark, tmp_path):
    """ADVICE r5: the replay guard must track the SET of event_ids folded at
    the carried timestamp, not a single max id — a genuinely DISTINCT event
    sharing the carried timestamp but with a SMALLER event_id (same-t events
    split across microbatches out of id order) must be folded, not dropped.
    File 1 carries (eid=10, t=1s), (eid=20, t=2s); file 2 carries
    (eid=15, t=2s) — distinct, same t as the carried state — and
    (eid=30, t=3s). The session must count 4 events; the old max-id guard
    counted 3. A replay of eid=20 in the same file must still be dropped."""
    import os
    import time as _time

    import duckdb

    from ocrautomator_spark.streaming.jobs import EVENTS_SCHEMA, stateful_sessionize
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    indir = tmp_path / "in"
    indir.mkdir()
    batches = [
        [(10, 1_000_000), (20, 2_000_000)],
        [(15, 2_000_000), (20, 2_000_000), (30, 3_000_000)],
    ]
    for i, ev_list in enumerate(batches):
        vals = ", ".join(
            f"({eid}, make_timestamp({t}), 7, 'click', 1.0, '{{}}')"
            for eid, t in ev_list
        )
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) "
            "v(event_id, ts, user_id, event_type, value, props)) "
            f"TO '{indir}/{i:03d}.parquet' (FORMAT PARQUET)"
        )
        os.utime(indir / f"{i:03d}.parquet", (1000000 + i * 100, 1000000 + i * 100))
        _time.sleep(0.05)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    out = stateful_sessionize(spark, SF_DIR, gap_us=8 * 3600 * 1_000_000, stream=stream)
    rows = {(r["user_id"], r["session_idx"]): r for r in out.collect()}
    assert set(rows) == {(7, 1)}, f"unexpected sessions: {rows}"
    r = rows[(7, 1)]
    assert r["n_events"] == 4, f"distinct same-t event dropped or replay folded: {r['n_events']}"
    assert r["session_start_us"] == 1_000_000
    assert r["session_end_us"] == 3_000_000


def test_streaming_dedup_incremental_state_spans_microbatches(spark, tmp_path):
    """Continuation contract of streaming_dedup_incremental (VERDICT r4
    item 5): the stateful sha2 filter must carry its seen-set ACROSS
    microbatches, and the snapshot anti-join must kill already-committed
    fingerprints. File 1: doc A (fingerprint pre-committed in the manifest
    store -> killed), docs B+B' (same new fp, in-batch arg-min -> smaller id
    emitted). File 2: doc C REPLAYS B's fingerprint (cross-batch state kill)
    and doc D is new (emitted). Expected survivors: min(B,B') and D only."""
    import hashlib
    import os
    import time as _time

    import duckdb

    from ocrautomator_spark.queries.corpus_ops import INC_MIN, REPLAY_MAX
    from ocrautomator_spark.queries.corpus_ops import streaming_dedup_incremental as run
    from ocrautomator_spark.spark.tableio import ParquetManifestIO

    # ids whose md5 prefix is > REPLAY_MAX (pass the inc filter, never the
    # in-entry replay branch) so the expectation below is exact
    ids = [i for i in range(1, 400)
           if hashlib.md5(str(i).encode()).hexdigest()[0] > REPLAY_MAX][:5]
    assert len(ids) == 5 and all(
        hashlib.md5(str(i).encode()).hexdigest()[0] >= INC_MIN for i in ids
    )
    a, b, b2, c, d = ids
    if b2 < b:
        b, b2 = b2, b  # b = the arg-min survivor of the shared fingerprint

    con = duckdb.connect()
    indir = tmp_path / "in"
    indir.mkdir()
    batches = [
        [(a, "snaptext"), (b, "newtext-x"), (b2, "newtext-x")],
        [(c, "newtext-x"), (d, "newtext-y")],
    ]
    for i, docs in enumerate(batches):
        vals = ", ".join(f"({did}, '{t}', 'en', 'web', {len(t)})" for did, t in docs)
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text, lang, source, n_chars)) "
            f"TO '{indir}/{i:03d}.parquet' (FORMAT PARQUET)"
        )
        os.utime(indir / f"{i:03d}.parquet", (1000000 + i * 100, 1000000 + i * 100))
        _time.sleep(0.05)

    store = ParquetManifestIO(str(tmp_path / "store"))
    store.write_bucket(
        spark.sql("SELECT sha2(encode('snaptext', 'utf-8'), 256) AS fp"), 0, "seed"
    )

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(indir))
    )
    out = run(spark, "unused", stream=stream, store_root=str(tmp_path / "store"))
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == sorted([b, d]), (
        f"expected survivors {sorted([b, d])} (ids a={a} b={b} b2={b2} c={c} d={d}), got {got}"
    )


def test_streaming_dedup_incremental_kill_between_data_write_and_commit(spark, tmp_path):
    """Exactly-once kill test (VERDICT r5 item 7): a crash BETWEEN the
    snapshot store's parquet data write and its manifest commit must leave
    the restarted stream with neither drops nor duplicates.

    Kill point 1 — torn seed: the crashed run wrote bucket 0's data files
    (poisoned here with the fingerprints of docs that SHOULD survive, so any
    leak of uncommitted data into read() would anti-join-kill them = visible
    drops) but never committed. The restart must treat the bucket as not
    done, overwrite-reseed it (idempotent retry), and reproduce the batch
    definition exactly.

    Kill point 2 — torn write after a committed generation: an orphaned
    uncommitted bucket 1 with the same poison must stay invisible to read()
    (manifest-path reads), and gc_orphans must remove exactly that
    directory, after which the result is still identical."""
    from pyspark.sql import functions as F

    from ocrautomator_spark.queries import QUERIES
    from ocrautomator_spark.queries import corpus_ops as co
    from ocrautomator_spark.spark.tableio import ParquetManifestIO
    from tests.conftest import SF_DIR

    root = str(tmp_path / "store")
    docs = co.T(spark, SF_DIR, "documents")
    pfx = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 1)
    poison = (
        docs.select("text", pfx.alias("pfx"))
        .filter(F.col("pfx") >= co.INC_MIN)
        .select(F.sha2(F.encode("text", "utf-8"), 256).alias("fp"))
    )
    io = ParquetManifestIO(root)
    io.write_bucket_data(poison, 0)  # CRASH: data on disk, no manifest
    assert io.committed_buckets() == set(), "torn write must not count as committed"

    exp = sorted(
        r["doc_id"] for r in QUERIES["dedup_incremental_snapshot"](spark, SF_DIR).collect()
    )
    got1 = sorted(
        r["doc_id"]
        for r in co.streaming_dedup_incremental(spark, SF_DIR, store_root=root).collect()
    )
    assert got1 == exp, "restart after torn seed dropped or duplicated rows"
    assert len(got1) == len(set(got1))
    assert io.committed_buckets() == {0}, "restart must have committed the reseed"

    io.write_bucket_data(poison, 1)  # CRASH again: orphan beside a committed gen
    got2 = sorted(
        r["doc_id"]
        for r in co.streaming_dedup_incremental(spark, SF_DIR, store_root=root).collect()
    )
    assert got2 == exp, "uncommitted orphan bucket leaked into the read path"

    removed = io.gc_orphans(older_than=0.0)
    assert [p.split("/")[-1] for p in removed] == ["bucket=00001"], removed
    got3 = sorted(
        r["doc_id"]
        for r in co.streaming_dedup_incremental(spark, SF_DIR, store_root=root).collect()
    )
    assert got3 == exp, "GC of the orphan changed the committed read"


def test_outer_interval_join_null_emission_boundary(spark):
    """LEFT OUTER stream-stream interval join: (a) both result kinds exist
    (matches AND watermark-flushed null-click rows); (b) NO null row is
    emitted for a view whose join window was still open under the final
    global watermark = least(max view ts, max click ts) [ms] − 1 h — i.e.
    Spark only emits an outer row once state eviction PROVES no match can
    arrive."""
    from tests.conftest import SF_DIR

    from ocrautomator_spark.streaming.jobs import interval_join_view_click_outer

    out = interval_join_view_click_outer(spark, SF_DIR).collect()
    matches = [r for r in out if r["click_eid"] is not None]
    outers = [r for r in out if r["click_eid"] is None]
    assert matches, "no inner matches — corpus degenerated, test is vacuous"
    assert outers, "no null-emission rows — watermark flush never happened"

    ev = spark.read.schema(EVENTS_SCHEMA).parquet(f"{SF_DIR}/events.parquet")
    mx = (
        ev.groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .where(F.col("event_type").isin("view", "click"))
        .agg(F.min(F.unix_micros("m")).alias("mn"))
        .collect()[0]["mn"]
    )
    wm_us = (mx // 1000) * 1000 - 3_600_000_000
    for r in outers:
        assert r["view_ts_us"] + 1_800_000_000 < wm_us, (
            "outer row emitted for a view whose window was still open at the "
            f"final watermark: view_ts_us={r['view_ts_us']} wm_us={wm_us}"
        )


def test_interval_join_two_microbatches(spark, tmp_path):
    """VERDICT r6 item 3: drive the PRODUCTION interval join
    (jobs._interval_join_on) across >=2 data microbatches
    (maxFilesPerTrigger=1), where join-state retention and eviction actually
    act, and gate against the eviction-boundary-aware expectation:

    - a view from batch 1 must match a click arriving in batch 2 (join
      state retained across the boundary);
    - an unmatched view whose window closed under the FINAL global
      watermark (least(max view ts, max click ts) [ms] - 1 h) must emit a
      null-click row (eviction proves no match can arrive);
    - an unmatched view whose window was still open at that watermark must
      NOT emit (it is legitimately buffered state when the run ends)."""
    import uuid as _uuid
    from datetime import datetime

    from ocrautomator_spark.streaming.jobs import (
        _interval_join_on,
        _interval_join_project,
    )

    indir = tmp_path / "ivj"
    indir.mkdir()
    t = lambda h, m: datetime(2024, 3, 1, h, m)
    # batch 1: V1 (will match cross-batch), V3 (never matched, old window),
    # C0 matches V1 in-batch so both result kinds exist early
    _write_events(str(indir / "b1.parquet"), [
        (101, t(10, 0), 1, "view"),
        (301, t(10, 5), 3, "view"),
        (102, t(10, 10), 1, "click"),
    ])

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    joined = _interval_join_project(_interval_join_on(stream, "leftOuter"))
    name = f"ivj_{_uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ivj_ck")).start()
    )
    try:
        q.processAllAvailable()
        # batch 2: C1 matches batch-1's V1 (cross-batch, inside its 30-min
        # window); V4 stays unmatched but its window is still open at the
        # final watermark; C_adv advances the click-side watermark
        _write_events(str(indir / "b2.parquet"), [
            (103, t(10, 20), 1, "click"),
            (401, t(18, 0), 4, "view"),
            (999, t(20, 0), 99, "click"),
        ])
        q.processAllAvailable()
        n_data_batches = sum(1 for p in q.recentProgress if p.get("numInputRows", 0) > 0)
        assert n_data_batches >= 2, f"expected >=2 data microbatches, got {n_data_batches}"
    finally:
        q.stop()

    rows = spark.table(name).collect()
    matches = {(r["view_eid"], r["click_eid"]) for r in rows if r["click_eid"] is not None}
    outers = {r["view_eid"] for r in rows if r["click_eid"] is None}
    # cross-batch match: V1 (batch 1) x C1 (batch 2); in-batch match V1 x C0
    assert (101, 102) in matches, f"in-batch match missing: {matches}"
    assert (101, 103) in matches, (
        f"CROSS-BATCH match missing — join state was not retained: {matches}"
    )
    # final watermark = least(max view 18:00, max click 20:00) - 1h = 17:00;
    # V3's window closed 10:35 < 17:00 -> null row; V4's closes 18:30 > 17:00
    # -> still-buffered state, must NOT emit; V1 matched, must not emit
    assert 301 in outers, f"evicted unmatched view must emit a null row: {outers}"
    assert 401 not in outers, f"still-buffered view must NOT emit: {outers}"
    assert 101 not in outers, f"matched view must not emit an outer row: {outers}"

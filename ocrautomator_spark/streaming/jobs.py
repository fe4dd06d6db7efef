"""Structured Streaming jobs over the events table.

Pattern: file-source readStream (the events parquet as the 'arriving' data)
→ event-time transformation → memory sink, run to completion with
processAllAvailable, then the sink table is returned as a batch DataFrame.
This makes real streaming executions deterministically comparable against
the DuckDB batch oracles: same input, same windows, same counts.

On a real cluster the same code points readStream at an Iceberg/Kafka source
and writeStream at the extracted table with a durable checkpointLocation.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ts is read as TIMESTAMP (LTZ): watermarks require it, and the parquet's
# naive micros become instant micros unchanged. All window boundaries are
# therefore epoch-aligned, and outputs are emitted as unix_micros INTEGERS —
# immune to whatever session timezone the caller's SparkSession uses.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)

# the documents table, for file-source streams over documents.parquet
DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)


def stream_link_dir(src_file: str, names: list[str] | None = None, prefix: str = "ocras_stream") -> str:
    """The file streaming source requires a DIRECTORY; expose a single
    parquet file through an idempotent symlink dir. Multiple ``names`` make
    the same file 'arrive' that many times (duplicate-ingest scenarios).
    Path.exists() follows the link, so a dangling symlink (source moved)
    would read False yet os.symlink would raise; repair it explicitly and
    tolerate a concurrent creator racing us."""
    import hashlib
    import os
    import pathlib

    src = pathlib.Path(src_file)
    names = names or [src.name]
    key = hashlib.md5(f"{src}|{','.join(names)}".encode()).hexdigest()[:10]
    d = pathlib.Path("/tmp") / f"{prefix}_{key}"
    d.mkdir(exist_ok=True)
    for name in names:
        link = d / name
        if link.is_symlink() and not link.exists():
            link.unlink(missing_ok=True)
        if not link.exists():
            try:
                os.symlink(src, link)
            except FileExistsError:
                pass
    return str(d)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = stream_link_dir(f"{sf_dir}/events.parquet")
    # explicit schema (no inference in production paths)
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(d)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str,
    transform_done: Callable[[DataFrame], DataFrame] | None = None,
    expect_single_batch: bool = False,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink; return the
    sink contents as a batch DataFrame (optionally post-transformed).

    ``expect_single_batch`` pins a caller's oracle contract (ADVICE r5): some
    entries register a BATCH SQL oracle whose semantics match the stream only
    when the whole input lands in one microbatch (e.g. global arg-min vs
    first-arrival-wins). Passing True turns a future trigger-config change
    (maxFilesPerTrigger etc.) into an explicit contract error here instead of
    a mysterious parity diff downstream."""
    name = f"sink_{uuid.uuid4().hex[:10]}"
    query = stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode).start()
    try:
        query.processAllAvailable()
        if expect_single_batch:
            n_data_batches = sum(
                1 for p in query.recentProgress if p.get("numInputRows", 0) > 0
            )
            if n_data_batches > 1:
                raise AssertionError(
                    f"single-microbatch oracle contract violated: {n_data_batches} "
                    "data-bearing microbatches processed — the registered batch "
                    "oracle (global arg-min) only matches first-arrival-wins "
                    "streaming semantics when the input lands in ONE microbatch"
                )
    finally:
        query.stop()
    out = stream_df.sparkSession.table(name)
    return transform_done(out) if transform_done else out


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window + watermark (late data beyond 10 min of max
    event time would be dropped in append mode; complete mode emits all)."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    return run_to_memory(
        agg,
        "complete",
        lambda df: df.select(
            F.unix_micros("win.start").alias("window_start_us"), "event_type", "n"
        ),
    )


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    return run_to_memory(
        agg,
        "complete",
        lambda df: df.select(
            F.unix_micros("win.start").alias("window_start_us"), "event_type", "n"
        ),
    )


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window: 30-minute inactivity gap per user."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return run_to_memory(
        agg,
        "complete",
        lambda df: df.select(
            "user_id",
            F.unix_micros("win.start").alias("session_start_us"),
            F.unix_micros("win.end").alias("session_end_us"),
            "n_events",
        ),
    )


def dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type) within the watermark."""
    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    return run_to_memory(
        deduped,
        "append",
        lambda df: df.agg(F.count("*").alias("n_unique_pairs")),
    )


def _interval_join_on(src: DataFrame, how: str) -> DataFrame:
    """The interval-join CONSTRUCTION over any events-shaped stream:
    two-sided watermarks + the time-range join condition, defined ONCE so
    the inner/leftOuter twins cannot drift — and so the multi-microbatch
    continuation test (tests/test_streaming_semantics.py) exercises the
    EXACT production join, not a copy."""
    views = (
        src.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_eid"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("click_user_id"),
            F.col("event_id").alias("click_eid"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    return views.join(
        clicks,
        (F.col("user_id") == F.col("click_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    )


def _interval_join_project(df: DataFrame) -> DataFrame:
    return df.select(
        "user_id",
        "view_eid",
        "click_eid",
        F.unix_micros("view_ts").alias("view_ts_us"),
        F.unix_micros("click_ts").alias("click_ts_us"),
    )


def _interval_join_stream(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Shared builder for the inner/leftOuter interval-join twins: sources,
    join construction, and the output projection are defined ONCE so the
    twins cannot drift (a one-sided edit to the interval width or watermark
    delay would otherwise silently desynchronize them while both oracles
    keep passing)."""
    joined = _interval_join_on(events_stream(spark, sf_dir), how)
    return run_to_memory(
        joined,
        "append",
        _interval_join_project,
        expect_single_batch=True,
    )


def interval_join_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner INTERVAL join (§2B streaming family): each 'view'
    event joins the same user's 'click' events landing in
    [view_ts, view_ts + 30 min).

    Spark requires exactly what this supplies for state eviction: a
    watermark on BOTH sides plus a time-range join condition, so the state
    store can discard a buffered view once the click-side watermark passes
    view_ts + 30 min (and vice versa). Inner-join output is append-mode.

    Determinism contract: with the whole input in one microbatch the
    watermark only advances AFTER the batch, so no state is evicted before
    every match is found and the result equals the batch interval join —
    which is the registered DuckDB oracle. ``expect_single_batch`` turns a
    future trigger-config change into an explicit contract error (same
    pinning as streaming_dedup_incremental, ADVICE r5)."""
    return _interval_join_stream(spark, sf_dir, "inner")


def interval_join_view_click_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the null-emission shape.

    Matches emit like the inner join; an UNMATCHED view emits
    (view, NULL click) only once the global watermark passes
    view_ts + 30 min, i.e. once the state store can prove no future click
    can land in the view's window. Spark requires the same two-sided
    watermark + time-range condition as the inner join so both join-state
    sides stay evictable.

    Determinism contract (pinned by the oracle): all input lands in one
    data microbatch; the final global watermark — advanced by the trailing
    no-data microbatch (spark.sql.streaming.noDataMicroBatches.enabled
    default) — is the MIN over both watermark nodes, each of which sees
    only its own filtered stream:
    least(max view ts, max click ts) [ms-truncated] − 1 h (probed
    empirically via recentProgress eventTime.watermark; using the overall
    events max here is WRONG and was caught by the parity gate). The
    no-data batch flushes exactly the unmatched views whose join window
    [view_ts, view_ts+30 min) closed strictly under that watermark;
    unmatched views newer than watermark − 30 min are still legitimately
    buffered when the bounded harness run ends. The registered DuckDB
    oracle reproduces that boundary in SQL, so the parity gate pins the
    eviction semantics, not just the match set."""
    return _interval_join_stream(spark, sf_dir, "leftOuter")


def stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): running
    per-user event counters, the custom-stateful-operator path (§2B)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [StructField("user_id", LongType(), True), StructField("n_events", LongType(), True)]
    )
    state_schema = StructType([StructField("count", LongType(), True)])

    def update(key, pdf_iter, state: GroupState):
        total = sum(len(pdf) for pdf in pdf_iter)
        prev = state.get[0] if state.exists else 0
        state.update((prev + total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [prev + total]})

    agg = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)
    )
    # update-mode sink may hold one row per user per microbatch; the final
    # counter per user is the max (counters are monotone)
    return run_to_memory(
        agg,
        "update",
        lambda df: df.groupBy("user_id").agg(F.max("n_events").alias("n_events")),
    )


def stateful_sessionize(
    spark: SparkSession,
    sf_dir: str,
    gap_us: int = 8 * 3600 * 1_000_000,
    stream: DataFrame | None = None,
) -> DataFrame:
    """Custom stateful STREAMING sessionization (applyInPandasWithState):
    per-user state carries the open session (last event time, session
    ordinal, start, count); each microbatch extends or closes sessions under
    the same gap rule as the batch events_sessionize, so running the stream
    to completion over the same events reproduces the batch output exactly —
    which is what lets a DuckDB batch oracle gate a real streaming execution.

    Update-mode emission: every session touched in a batch is (re-)emitted
    with its extent so far; sessions only grow, so the sink's final row per
    (user, session_idx) — selected by max(n_events) downstream — is the
    complete session. Cross-batch continuation is handled by the carried
    state; the file source delivers one deterministic batch here, and a real
    deployment accepting out-of-order arrivals would front this with a
    watermarked sort or use session windows instead.

    API boundary contract: batches must arrive per-user time-ordered across
    microbatches (true for the file source's ascending file names). Events
    that violate it (t < the carried state's last_t) are DROPPED, not
    silently folded into the open session. Duplicate delivery is guarded at
    the state boundary too: the carried state tracks the SET of event_ids
    folded at its last timestamp, and an exact replay (same t as the state's
    last_t with an event_id already in that set — a redelivered retry) is
    dropped rather than inflating n_events, while a genuinely DISTINCT event
    sharing the carried timestamp (same-t events split across microbatches
    in any id order) is folded normally. The set is bounded by the number of
    events a single user emits within one microsecond — O(1) in any real
    stream. Within-batch duplicates are NOT deduped
    (the batch oracle counts every row); dedupe by event_id upstream
    (streaming_dedup) for at-least-once sources."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import IntegerType

    out_schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("session_idx", IntegerType(), True),
            StructField("n_events", LongType(), True),
            StructField("session_start_us", LongType(), True),
            StructField("session_end_us", LongType(), True),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_t", LongType(), True),
            StructField("sess", LongType(), True),
            StructField("start", LongType(), True),
            StructField("n", LongType(), True),
            StructField("eids_at_last_t", ArrayType(LongType()), True),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(["t", "event_id"])
        if state.exists:
            last_t, sess, start, n, eids_at_last_t = state.get
            folded = set(eids_at_last_t or [])
            # Boundary contract: the source must deliver per-user batches in
            # event-time order (the file source guarantees it via ascending
            # file names/mtimes). An event OLDER than the carried state would
            # otherwise silently extend or corrupt the open session — drop it
            # instead, the stateful analogue of a watermark discarding late
            # data. An event AT the carried timestamp whose event_id is in
            # the already-folded set is an exact replay (at-least-once
            # redelivery) — drop it too, or a retried microbatch would
            # inflate n_events; a distinct same-t event_id is NOT a replay
            # and folds normally. Never fires on an ordered exactly-once
            # source, so batch-oracle parity is untouched.
            pdf = pdf[
                (pdf["t"] > last_t)
                | ((pdf["t"] == last_t) & ~pdf["event_id"].isin(folded))
            ]
            if pdf.empty:
                return
        else:
            last_t, sess, start, n, folded = 0, 0, 0, 0, set()
        out = []
        prev_last_t = last_t
        new_last_t = int(pdf["t"].iloc[-1])
        new_eids = set(pdf.loc[pdf["t"] == new_last_t, "event_id"].astype(int).tolist())
        if new_last_t == prev_last_t:
            new_eids |= folded  # batch only added same-t events: keep the old set
        for t in pdf["t"].tolist():
            if sess == 0 or t - last_t > gap_us:
                if sess > 0:
                    out.append((sess, n, start, last_t))  # close previous
                sess += 1
                start = t
                n = 1
            else:
                n += 1
            last_t = t
        out.append((sess, n, start, last_t))  # open session, extent so far
        state.update((last_t, sess, start, n, sorted(new_eids)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "session_idx": [int(s) for s, _, _, _ in out],
                "n_events": [n_ for _, n_, _, _ in out],
                "session_start_us": [st for _, _, st, _ in out],
                "session_end_us": [en for _, _, _, en in out],
            }
        )

    sess = (
        (stream if stream is not None else events_stream(spark, sf_dir))
        .select("user_id", "event_id", F.unix_micros("ts").alias("t"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    return run_to_memory(
        sess,
        "update",
        lambda df: df.groupBy("user_id", "session_idx")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("session_start_us").alias("session_start_us"),
            F.max("session_end_us").alias("session_end_us"),
        )
        .select(
            "user_id",
            "session_idx",
            "n_events",
            "session_start_us",
            "session_end_us",
            (
                (F.col("session_end_us") - F.col("session_start_us")) / F.lit(1000000.0)
            ).cast("double").alias("duration_sec"),
        ),
    )

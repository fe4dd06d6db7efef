"""Conversation-level operators (spark/conversation.py) wired to the driver
gate.

The driver's table set has no transcripts parquet, so the queries run the
REAL conversation operators over a deterministic transcripts-shaped adapter
of the ``events`` table (user_id → conv_id, row_number by (ts, event_id) →
turn_idx, event_type → role/text). The adapter is plain SQL on both engines,
so the window/gaps-and-islands semantics of conversation.py get hash-exact
DuckDB oracles.

Timestamp discipline: events are read with the explicit LTZ schema the
streaming jobs use (naive parquet micros become instant micros unchanged) and
every emitted time value is epoch-microsecond arithmetic — bit-identical
under any session timezone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocrautomator_spark.queries.common import T, pinned, q
from ocrautomator_spark.spark import conversation as conv
from ocrautomator_spark.streaming import jobs as sj

# events → transcripts shape; roles chosen so consecutive same-role runs
# exist (click/view both map to 'user'), which makes the run-merge non-trivial
SQL_T = """
    SELECT CAST(user_id AS VARCHAR) AS conv_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
           CASE WHEN event_type IN ('click', 'view') THEN 'user'
                WHEN event_type = 'error' THEN 'tool'
                ELSE 'assistant' END AS role,
           concat_ws(' ', event_type, props) AS text,  -- NULL-skipping, matches F.concat_ws
           ts
    FROM events
"""


def events_as_transcripts(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = spark.read.schema(sj.EVENTS_SCHEMA).parquet(f"{sf}/events.parquet")
    # project conv_id FIRST and window over the attribute itself, so the
    # turn-numbering exchange is hashpartitioning(conv_id) and every
    # downstream per-conversation window (turn_gaps, run-merge) REUSES it
    # instead of re-shuffling — one shuffle for the whole
    # conversation-analytics family (plan-tested)
    ev = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        "ts",
        "event_id",
        "event_type",
        "props",
    )
    # the family's ONE exchange (the plan test still counts exactly one)
    ev = pinned(ev, "conv_id")
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    return ev.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), "user")
        .when(F.col("event_type") == "error", "tool")
        .otherwise("assistant")
        .alias("role"),
        F.concat_ws(" ", "event_type", "props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
    )


@q(
    "conv_turn_gaps",
    f"""
    WITH t AS ({SQL_T})
    SELECT conv_id, turn_idx, role,
           (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1000000.0 AS gap_sec,
           concat_ws('->', LAG(role) OVER w, role) AS transition
    FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    """,
)
def conv_turn_gaps(spark: SparkSession, sf: str) -> DataFrame:
    return conv.turn_gaps(events_as_transcripts(spark, sf))


@q(
    "conv_response_latency",
    f"""
    WITH t AS ({SQL_T}),
    g AS (
      SELECT conv_id, turn_idx,
             (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1000000.0 AS gap_sec,
             concat_ws('->', LAG(role) OVER w, role) AS transition
      FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
    SELECT conv_id, turn_idx, gap_sec AS response_sec
    FROM g WHERE transition = 'user->assistant'
    """,
)
def conv_response_latency(spark: SparkSession, sf: str) -> DataFrame:
    return conv.response_latency(events_as_transcripts(spark, sf))


@q(
    "conv_stats",
    f"""
    WITH t AS ({SQL_T})
    SELECT conv_id, COUNT(*) AS n_turns,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_sec,
           SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS n_user,
           SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS n_assistant,
           SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS n_tool,
           SUM(length(text)) AS total_chars
    FROM t GROUP BY conv_id
    """,
)
def conv_stats(spark: SparkSession, sf: str) -> DataFrame:
    return conv.conversation_stats(events_as_transcripts(spark, sf))


@q(
    "conv_merge_runs",
    f"""
    WITH t AS ({SQL_T}),
    l AS (
      SELECT *, CASE WHEN LAG(role) OVER w IS NULL OR LAG(role) OVER w <> role
                     THEN 1 ELSE 0 END AS new_run
      FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
    g AS (
      SELECT *, SUM(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                   ROWS UNBOUNDED PRECEDING) AS run
      FROM l)
    SELECT conv_id, MIN(turn_idx) AS turn_idx, MIN(role) AS role,
           string_agg(text, chr(10) || chr(10) ORDER BY turn_idx) AS text,
           epoch_us(MIN(ts)) AS ts_us, COUNT(*) AS n_merged
    FROM g GROUP BY conv_id, run
    """,
)
def conv_merge_runs(spark: SparkSession, sf: str) -> DataFrame:
    out = conv.merge_consecutive_same_role(events_as_transcripts(spark, sf))
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.unix_micros("ts").alias("ts_us"),
        "n_merged",
    )


CONTEXT_BUDGET_CHARS = 60  # context-window char budget for the truncation op


@q(
    "conv_context_window",
    f"""
    WITH t AS ({SQL_T}),
    c AS (SELECT conv_id, turn_idx, role,
                 SUM(length(text)) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                                         ROWS UNBOUNDED PRECEDING) AS cum_chars
          FROM t)
    SELECT conv_id, turn_idx, role, cum_chars
    FROM c WHERE cum_chars <= {CONTEXT_BUDGET_CHARS}
    """,
)
def conv_context_window(spark: SparkSession, sf: str) -> DataFrame:
    """Context-budget truncation — the LLM-serving shape: keep the longest
    SUFFIX of each conversation whose cumulative payload size fits the
    budget (reverse-cumulative window sum, then filter). One shuffle on
    conv_id, shared with the rest of the conversation family."""
    from pyspark.sql.window import Window

    t = events_as_transcripts(spark, sf)
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.desc("turn_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_chars", F.sum(F.length("text")).over(w))
        .filter(F.col("cum_chars") <= CONTEXT_BUDGET_CHARS)
        .select("conv_id", "turn_idx", "role", "cum_chars")
    )


@q(
    "conv_span_profile",
    """
    SELECT CAST(doc_id AS VARCHAR) AS conv_id,
           CAST(1 AS BIGINT) AS content, CAST(0 AS BIGINT) AS heading,
           CAST(0 AS BIGINT) AS code, CAST(0 AS BIGINT) AS "list"
    FROM documents
    """,
)
def conv_span_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Span-kind distribution per conversation over the REAL extraction
    output (explode spans → pivot kinds) — exercises conversation.py on top
    of the extract job end-to-end. Hash-oracled via the plain-text identity:
    every clean single-paragraph document extracts to exactly one content
    span and zero heading/code/list spans."""
    from ocrautomator_spark.spark.extract_job import documents_as_transcripts, run_extract

    ext = run_extract(documents_as_transcripts(T(spark, sf, "documents")))
    return conv.span_kind_profile(ext)


PACK_CONV_BUDGET_CHARS = 80  # per-chunk payload budget for boundary packing


@q(
    "conv_pack_chunks",
    f"""
    WITH t AS ({SQL_T}),
    c AS (SELECT conv_id, turn_idx, length(text) AS n_chars,
                 SUM(length(text)) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                         ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT conv_id, CAST(floor((cum - n_chars) / {PACK_CONV_BUDGET_CHARS}) AS BIGINT) AS chunk_idx,
           COUNT(*) AS n_turns, CAST(SUM(n_chars) AS BIGINT) AS chunk_chars
    FROM c GROUP BY conv_id, chunk_idx
    """,
)
def conv_pack_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """BOUNDARY-respecting training-chunk packing: turns pack greedily into
    chunks that never cross a conversation boundary — the packing mode used
    when attention must not bleed between documents (vs pack_contiguous_bins,
    which packs the whole corpus as one stream). Chunk assignment is the
    same streaming approximation as the corpus packer (chunk = exclusive
    running size ÷ budget, overflow by at most one turn's tail, split at
    token boundaries downstream).

    Scale: the window partitions by conv_id, so packing is embarrassingly
    parallel per conversation and REUSES the conversation family's single
    hashpartitioning(conv_id) exchange — no corpus-wide prefix sum is ever
    needed when chunks can't cross conversations (that global case is what
    pack_contiguous_bins' two-pass shard plan solves)."""
    from pyspark.sql.window import Window

    t = events_as_transcripts(spark, sf)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.select("conv_id", "turn_idx", F.length("text").alias("n_chars")).withColumn(
        "cum", F.sum("n_chars").over(w)
    )
    return (
        c.withColumn(
            "chunk_idx",
            F.floor((F.col("cum") - F.col("n_chars")) / PACK_CONV_BUDGET_CHARS).cast("bigint"),
        )
        .groupBy("conv_id", "chunk_idx")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_chars").cast("bigint").alias("chunk_chars"),
        )
    )


# --------------------------------------------------------- tool-call chains

# Agent-transcript tool analytics over the `tool` column of the input
# schema (conv_id, turn_idx, role, text, tool, ts): tool-role turns carry a
# deterministic tool name (event_id % N_TOOLS — engine-exact integer
# arithmetic), and consecutive tool turns form CHAINS (an agent retrying /
# composing tools before replying). Chain detection is the gaps-and-islands
# idiom: turn_idx - row_number() over tool turns is constant within a
# consecutive run.
N_TOOLS = 3

_TOOL_CHAINS_SQL = f"""
    WITH t AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
             CASE WHEN event_type = 'error'
                  THEN 'tool_' || CAST(event_id % {N_TOOLS} AS VARCHAR) END AS tool
      FROM events
    ),
    tt AS (
      SELECT conv_id, turn_idx, tool,
             turn_idx - ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS chain
      FROM t WHERE tool IS NOT NULL
    ),
    c AS (SELECT conv_id, chain, COUNT(*) AS clen FROM tt GROUP BY conv_id, chain)
    SELECT tt.conv_id,
           COUNT(*) AS n_tool_calls,
           COUNT(DISTINCT tt.tool) AS n_distinct_tools,
           COUNT(DISTINCT tt.chain) AS n_chains,
           (SELECT MAX(clen) FROM c WHERE c.conv_id = tt.conv_id) AS max_chain_len
    FROM tt GROUP BY tt.conv_id
"""


@q("conv_tool_chains", _TOOL_CHAINS_SQL)
def conv_tool_chains(spark: SparkSession, sf: str) -> DataFrame:
    """Per-conversation tool-call analytics: how many tool invocations, how
    many distinct tools, and how the calls group into consecutive CHAINS
    (max chain length = the deepest uninterrupted tool-use run before the
    agent replied). The op an agent-transcript pipeline runs to profile
    tool-use behavior before curating training conversations.

    Scale: the turn-numbering window, the chain-id window, and both
    aggregates all partition on conv_id — ONE exchange for the whole entry
    (the same reused conv_id partitioning the rest of the conversation
    family rides); chain detection is gaps-and-islands arithmetic, no
    self-join."""
    ev = spark.read.schema(sj.EVENTS_SCHEMA).parquet(f"{sf}/events.parquet")
    ev = ev.select(
        F.col("user_id").cast("string").alias("conv_id"), "ts", "event_id", "event_type"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    t = ev.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(
            F.col("event_type") == "error",
            F.concat(F.lit("tool_"), (F.col("event_id") % N_TOOLS).cast("string")),
        ).alias("tool"),
    )
    wt = Window.partitionBy("conv_id").orderBy("turn_idx")
    # chain-length via a (conv_id, chain) window, NOT a separate groupBy +
    # join back: hashpartitioning(conv_id) already clusters (conv_id, chain),
    # so the window adds no exchange. Distinct counts via size(collect_set)
    # in the one final aggregate, NOT countDistinct: two distinct aggs would
    # trigger the Expand rewrite and two more shuffles. Sets are bounded
    # (N_TOOLS tools, chains <= turns per conversation).
    wc = Window.partitionBy("conv_id", "chain")
    tt = (
        t.filter(F.col("tool").isNotNull())
        .withColumn("chain", F.col("turn_idx") - F.row_number().over(wt))
        .withColumn("clen", F.count("*").over(wc))
    )
    return tt.groupBy("conv_id").agg(
        F.count("*").alias("n_tool_calls"),
        F.size(F.collect_set("tool")).cast("long").alias("n_distinct_tools"),
        F.size(F.collect_set("chain")).cast("long").alias("n_chains"),
        F.max("clen").alias("max_chain_len"),
    )

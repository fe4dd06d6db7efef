"""Corpus lifecycle operators — the ops a recurring 100 TB ingest runs
between crawls: incremental dedup against the existing snapshot, duplicate-
cluster resolution that keeps the BEST member (not just the min id), BM25
retrieval over the corpus, and shuffle-balance diagnostics.

Engine-parity discipline: deterministic splits/buckets come from md5-hex
prefixes of stable ids (identical strings in Spark and DuckDB — no rand()),
dedup fingerprints are sha2-256 (collision-resistant, CLAUDE.md invariant),
and BM25 emits RANKS, not raw double scores: ln() is correctly-rounded in
neither engine, so the oracle gate hashes the ordering (robust to 1-ulp
score wiggle) plus integer evidence columns, never the transcendental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocrautomator_spark.queries.common import T, q
from ocrautomator_spark.queries.pipeline_ops import (
    _CC_EDGES_SQL,
    _cc_min_label,
    dedup_ngram_jaccard,
)

# --------------------------------------------------- incremental dedup

# Deterministic crawl-cycle model on an md5(doc_id) prefix: the snapshot
# holds prefixes '0'-'b' (75% already ingested); the new crawl fetches
# prefixes '8'-'f' (50%) — so '8'-'b' are RE-crawled known pages the
# snapshot anti-join must kill, and 'c'-'f' are genuinely new. Pages with
# prefix 'c'-'d' are additionally fetched TWICE in the batch (replayed
# under doc_id + REPLAY_OFFSET), exercising the in-batch arg-min dedup.
# The base corpus has no exact-text dups, so every code path is exercised
# by construction, not by luck.
SNAP_MAX = "b"
INC_MIN = "8"
REPLAY_MAX = "d"
REPLAY_OFFSET = 10_000_000


# Shared by the batch entry and its streaming twin: the batch definition IS
# the streaming entry's oracle (same split, same kill paths).
_INC_SNAPSHOT_SQL = f"""
    WITH px AS (SELECT *, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS pfx
                FROM documents),
    s AS (SELECT DISTINCT sha256(text) AS fp FROM px WHERE pfx <= '{{SNAP_MAX}}'),
    i AS (SELECT doc_id, lang, source, sha256(text) AS fp
          FROM px WHERE pfx >= '{{INC_MIN}}'
          UNION ALL
          SELECT doc_id + {{REPLAY_OFFSET}}, lang, source, sha256(text)
          FROM px WHERE pfx > '{{SNAP_MAX}}' AND pfx <= '{{REPLAY_MAX}}'),
    n AS (SELECT * FROM i WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.fp = i.fp))
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM n)
    WHERE rn = 1
    """.format(
    SNAP_MAX=SNAP_MAX, INC_MIN=INC_MIN, REPLAY_OFFSET=REPLAY_OFFSET, REPLAY_MAX=REPLAY_MAX
)


@q("dedup_incremental_snapshot", _INC_SNAPSHOT_SQL)
def dedup_incremental_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental (cross-run) dedup: from the incoming crawl batch, keep
    only documents whose sha2-256 content fingerprint does not already exist
    in the ingested snapshot, then dedup within the batch itself (arg-min
    doc_id per fingerprint). This is the op a recurring crawl runs before
    appending — batch-vs-snapshot, not the whole-corpus self-dedup of
    dedup_exact. The deterministic split overlaps (re-crawled pages) and
    replays some fetches (in-batch dups), so both kill paths are exercised.

    Scale: the anti-join and the in-batch groupBy both shuffle a fixed-width
    32-byte key, never the payload; the snapshot side is a pre-distincted
    fingerprint column (in production: the dedup index table, not a rescan).
    The arg-min survivor rides the same groupBy as a struct min — no second
    join back to the batch."""
    docs = T(spark, sf, "documents")
    prefix = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 1)
    px = docs.select("doc_id", "lang", "source", "text", prefix.alias("pfx"))
    fp = F.sha2(F.encode("text", "utf-8"), 256).alias("fp")
    snap = px.filter(F.col("pfx") <= SNAP_MAX).select(fp).distinct()
    inc = px.filter(F.col("pfx") >= INC_MIN).select("doc_id", "lang", "source", fp)
    replay = (
        px.filter((F.col("pfx") > SNAP_MAX) & (F.col("pfx") <= REPLAY_MAX))
        .select((F.col("doc_id") + REPLAY_OFFSET).alias("doc_id"), "lang", "source", fp)
    )
    fresh = inc.unionAll(replay).join(snap, "fp", "left_anti")
    # struct min orders by the first field, so this is arg-min by doc_id
    return (
        fresh.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "lang", "source")).alias("s"))
        .select(F.col("s.doc_id").alias("doc_id"), F.col("s.lang").alias("lang"), F.col("s.source").alias("source"))
    )


@q("streaming_dedup_incremental", _INC_SNAPSHOT_SQL)
def streaming_dedup_incremental(
    spark: SparkSession,
    sf: str,
    stream: DataFrame | None = None,
    store_root: str | None = None,
) -> DataFrame:
    """STREAMING twin of ``dedup_incremental_snapshot`` (VERDICT r4 item 5):
    the crawl batch arrives on a readStream, the already-ingested
    fingerprint set is read from a PERSISTENT ``ParquetManifestIO`` store
    (the dedup index a recurring ingest maintains — here seeded with the
    snapshot split's sha2-256 fingerprints through the normal commit
    protocol), and dedup happens in two stages inside the stream: a
    stream-static LEFT ANTI join against the committed set (kills re-crawled
    known pages), then a stateful sha2-keyed filter (applyInPandasWithState
    grouped on the fingerprint) that emits the arg-min-doc_id survivor the
    first time a fingerprint is seen and drops every later arrival — the
    cross-microbatch replay kill. Running the stream to completion over the
    same deterministic split reproduces the batch entry exactly, so the
    batch definition IS this entry's oracle. First-arrival-wins across
    microbatches (within a batch: arg-min); the two-microbatch continuation
    test in tests/test_streaming_semantics.py pins the carried state.

    Scale: the anti-join broadcasts nothing and shuffles only the 32-byte
    key; state is one empty-payload row per NEW fingerprint (the minimum
    any exact streaming dedup must hold); the snapshot side is the
    manifest-committed index, not a corpus rescan."""
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

    from ocrautomator_spark.spark.tableio import ParquetManifestIO
    from ocrautomator_spark.streaming.jobs import DOCUMENTS_SCHEMA, run_to_memory, stream_link_dir

    fp_of = lambda col: F.sha2(F.encode(col, "utf-8"), 256)  # noqa: E731
    scratch = store_root or tempfile.mkdtemp(prefix="ocras_incdedup_")
    try:
        io = ParquetManifestIO(scratch)
        if not io.committed_buckets():
            docs = T(spark, sf, "documents")
            pfx0 = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 1)
            snap_fp = (
                docs.filter(pfx0 <= SNAP_MAX).select(fp_of(F.col("text")).alias("fp")).distinct()
            )
            io.write_bucket(snap_fp, 0, "snapshot-seed")
        snap = io.read(spark)  # the committed fingerprint index

        stream_was_default = stream is None
        if stream is None:
            d = stream_link_dir(f"{sf}/documents.parquet", prefix="ocras_incstream")
            stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(d)
        pfx = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 1)
        s = stream.select("doc_id", "lang", "source", "text", pfx.alias("pfx"))
        inc = s.filter(F.col("pfx") >= INC_MIN).select(
            "doc_id", "lang", "source", fp_of(F.col("text")).alias("fp")
        )
        replay = s.filter((F.col("pfx") > SNAP_MAX) & (F.col("pfx") <= REPLAY_MAX)).select(
            (F.col("doc_id") + REPLAY_OFFSET).alias("doc_id"),
            "lang",
            "source",
            fp_of(F.col("text")).alias("fp"),
        )
        fresh = inc.unionAll(replay).join(snap, "fp", "left_anti")

        out_schema = StructType(
            [
                StructField("doc_id", LongType(), True),
                StructField("lang", StringType(), True),
                StructField("source", StringType(), True),
            ]
        )
        state_schema = StructType([StructField("seen", IntegerType(), True)])

        def first_arrival_wins(key, pdf_iter, state: GroupState):
            pdf = pd.concat(list(pdf_iter), ignore_index=True)
            if pdf.empty or state.exists:
                return  # fingerprint already emitted in an earlier batch
            state.update((1,))
            r = pdf.loc[pdf["doc_id"].idxmin()]
            yield pd.DataFrame(
                {"doc_id": [int(r["doc_id"])], "lang": [r["lang"]], "source": [r["source"]]}
            )

        ded = fresh.groupBy("fp").applyInPandasWithState(
            first_arrival_wins, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
        # run_to_memory materializes into the in-memory sink table, so the
        # result survives the scratch store's teardown. The batch oracle
        # (global arg-min per fingerprint) matches first-arrival-wins
        # streaming semantics ONLY when the default file source lands the
        # whole input in one microbatch — pin that assumption so a trigger
        # change fails loudly, not as a parity mystery (ADVICE r5). Caller-
        # supplied streams (the continuation test) legitimately multi-batch.
        return run_to_memory(ded, "update", expect_single_batch=stream_was_default)
    finally:
        if store_root is None:
            shutil.rmtree(scratch, ignore_errors=True)


# ------------------------------------------------- cluster keep-best

@q(
    "dedup_cluster_keep_best",
    f"""
    WITH RECURSIVE
    {_CC_EDGES_SQL},
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    m AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
    dd AS (SELECT d.doc_id, COALESCE(m.lbl, d.doc_id) AS comp, length(d.text) AS n_chars
           FROM documents d LEFT JOIN m ON m.node = d.doc_id),
    k AS (SELECT comp, doc_id AS keeper FROM (
            SELECT comp, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rn
            FROM dd)
          WHERE rn = 1)
    SELECT dd.doc_id, k.keeper,
           CASE WHEN k.keeper = dd.doc_id THEN 1 ELSE 0 END AS is_keeper
    FROM dd JOIN k USING (comp)
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster resolution keeping the RICHEST member: connected
    components over the near-dup graph (same CC as dedup_cluster_keeper),
    keeper = longest document in the component, ties to min doc_id. In a
    curation pipeline this beats keep-min-id — near-dup clusters usually
    contain one full page and N truncated/boilerplate variants.

    Scale: the component labels come from the shared pointer-jumping CC
    (O(log d) rounds, de-skewed ref side); the arg-max is a struct-min
    aggregate on the component key, and the membership join reuses the comp
    partitioning the aggregate just established."""
    pairs = dedup_ngram_jaccard(spark, sf).select("doc_a", "doc_b")
    labels = _cc_min_label(pairs)
    docs = T(spark, sf, "documents").select("doc_id", F.length("text").alias("n_chars"))
    dd = (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select("doc_id", F.coalesce("lbl", "doc_id").alias("comp"), "n_chars")
    )
    # struct min on (-n_chars, doc_id) = longest doc, ties to min doc_id
    best = dd.groupBy("comp").agg(
        F.min(F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id").alias("keeper"))).alias("b")
    )
    return (
        dd.join(best, "comp")
        .select(
            "doc_id",
            F.col("b.keeper").alias("keeper"),
            F.when(F.col("b.keeper") == F.col("doc_id"), 1).otherwise(0).alias("is_keeper"),
        )
    )


# ------------------------------------------------------ BM25 retrieval

BM25_TERMS = ("join", "scan", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def _bm25_tf_sql(term: str) -> str:
    return f"len(list_filter(string_split(text, ' '), x -> x = '{term}'))"


@q(
    "search_bm25_topk",
    f"""
    WITH d AS (SELECT doc_id,
                      len(string_split(text, ' ')) AS dl,
                      {", ".join(f"{_bm25_tf_sql(t)} AS tf{i}" for i, t in enumerate(BM25_TERMS))}
               FROM documents),
    g AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                 {", ".join(f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(BM25_TERMS)))}
          FROM d),
    s AS (SELECT d.doc_id,
                 ({" + ".join(
                     f"CASE WHEN tf{i} > 0 THEN ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
                     f" * (tf{i} * ({BM25_K1} + 1.0))"
                     f" / (tf{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)) ELSE 0.0 END"
                     for i in range(len(BM25_TERMS)))}) AS score,
                 ({" + ".join(f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END" for i in range(len(BM25_TERMS)))}) AS n_terms,
                 ({" + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))}) AS tf_total
          FROM d, g WHERE {" + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))} > 0)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
           doc_id, n_terms, tf_total
    FROM s ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
    """,
)
def search_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 retrieval: top-K documents for a fixed multi-term query, Okapi
    scoring (k1=1.2, b=0.75). The gate hashes (rank, doc_id) plus
    integer evidence (terms matched, total tf) — never the raw score, whose
    ln() is engine-rounding-dependent.

    Residual cross-engine risk (documented per r3 ADVICE): the rank itself
    is still derived from the ln()-based double score, so two documents with
    distinct but 1-ulp-close scores could in principle order differently
    between Spark's Math.log and DuckDB's ln at an untested scale factor,
    flipping adjacent ranks near the LIMIT boundary. Ties with IDENTICAL
    (tf, dl) are safe (bit-identical expression within each engine, doc_id
    tiebreak), parity is pinned at the gate SF, and the integer evidence
    columns bound any such flip's blast radius to adjacent ranks.

    Scale: per-term tf is an array HOF on the already-split words — a pure
    narrow map, NO posting-list explode and NO (doc, term) shuffle. Corpus
    stats (N, avgdl, per-term df) reduce to ONE broadcast row, scoring is a
    second narrow map, and the only ordering work is TakeOrderedAndProject
    on (score, doc_id) — a single corpus pass end to end."""
    docs = T(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )

    def tf(term: str):
        # single-parameter lambda: a two-parameter one would receive the
        # array INDEX as its second argument from F.filter
        return F.size(F.filter("words", lambda w: w == F.lit(term)))

    # localCheckpoint (r7): ``d`` has two consumers — the corpus-stats
    # aggregate and the scoring pass — and with no exchange between scan and
    # agg there is nothing for ReusedExchange to share, so without a barrier
    # the split+tf HOF corpus scan runs twice. The barrier stores only
    # (doc_id, dl, tf0..tfk): one text scan instead of two, at any scale.
    d = docs.select(
        "doc_id",
        F.size("words").alias("dl"),
        *[tf(t).alias(f"tf{i}") for i, t in enumerate(BM25_TERMS)],
    ).localCheckpoint()
    nterms = len(BM25_TERMS)
    g = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(nterms)
        ],
    )
    score = None
    for i in range(nterms):
        tf_d = F.col(f"tf{i}").cast("double")
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + F.lit(0.5)) / (F.col(f"df{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        part = F.when(
            F.col(f"tf{i}") > 0,
            idf
            * (tf_d * F.lit(BM25_K1 + 1.0))
            / (tf_d + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))),
        ).otherwise(F.lit(0.0))
        score = part if score is None else score + part
    tf_total = sum(F.col(f"tf{i}") for i in range(nterms))
    n_matched = sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0) for i in range(nterms))
    s = (
        d.crossJoin(F.broadcast(g))
        .filter(tf_total > 0)
        .select(
            "doc_id",
            score.alias("score"),
            n_matched.alias("n_terms"),
            tf_total.alias("tf_total"),
        )
    )
    top = s.orderBy(F.col("score").desc(), "doc_id").limit(BM25_TOPK)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "doc_id", "n_terms", "tf_total"
    )


# ------------------------------------------------- shuffle-balance diag

SKEW_KEY_TABLE = "events"
SKEW_KEY_COL = "user_id"


@q(
    "diag_key_skew",
    f"""
    WITH b AS (SELECT substring(md5(CAST({SKEW_KEY_COL} AS VARCHAR)), 1, 1) AS bucket,
                      {SKEW_KEY_COL} AS k
               FROM {SKEW_KEY_TABLE}),
    t AS (SELECT COUNT(*) AS total FROM b)
    SELECT bucket, COUNT(*) AS n_rows, COUNT(DISTINCT k) AS n_keys,
           CAST(COUNT(*) * 16.0 / (SELECT total FROM t) AS DOUBLE) AS balance_ratio
    FROM b GROUP BY bucket
    """,
)
def diag_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-balance diagnostic: rows and distinct keys per md5-prefix
    bucket (16 buckets) for a prospective shuffle key, with the ratio of
    each bucket to the uniform share. The pre-flight check a 100 TB job runs
    before committing to a partitioning — balance_ratio >> 1 on a bucket
    means a straggler task. md5 buckets (not Spark's murmur3) so the oracle
    computes the identical assignment.

    Scale: one groupBy over a 16-value key with map-side partials (the
    distinct-key count shuffles (bucket, key) pairs, bounded by key
    cardinality); the total rides back as a 1-row broadcast."""
    b = T(spark, sf, SKEW_KEY_TABLE).select(
        F.substring(F.md5(F.encode(F.col(SKEW_KEY_COL).cast("string"), "utf-8")), 1, 1).alias("bucket"),
        F.col(SKEW_KEY_COL).alias("k"),
    )
    t = b.agg(F.count(F.lit(1)).alias("total"))
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.countDistinct("k").alias("n_keys"))
        .crossJoin(F.broadcast(t))
        .select(
            "bucket",
            "n_rows",
            "n_keys",
            (F.col("n_rows") * F.lit(16.0) / F.col("total")).cast("double").alias("balance_ratio"),
        )
    )


# ------------------------------------------- manifest compaction lifecycle

LIFECYCLE_NBUCKETS = 4
LIFECYCLE_FILES_PER_BUCKET = 8


@q(
    "lifecycle_compact_stats",
    f"""
    WITH b AS (SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS INT)
                        % {LIFECYCLE_NBUCKETS} AS bucket
               FROM documents)
    SELECT bucket, COUNT(*) AS n_rows,
           {LIFECYCLE_FILES_PER_BUCKET} AS files_before, 1 AS files_after
    FROM b GROUP BY bucket
    """,
)
def lifecycle_compact_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction + orphan GC over the manifest store — the
    maintenance pass every long-lived 100 TB table needs (Iceberg's
    rewrite_data_files + remove_orphan_files; the ParquetManifestIO methods
    document the exact cluster calls). The entry runs the FULL lifecycle
    against a scratch store: ingest documents as LIFECYCLE_NBUCKETS chunks
    of LIFECYCLE_FILES_PER_BUCKET small files each, plant one uncommitted
    orphan directory (a crashed run's leftovers), compact every bucket to a
    single file via the atomic generation-swap protocol, GC the orphans,
    and report per-bucket stats READ BACK FROM THE COMPACTED STORE — so the
    oracle's row counts gate data integrity through the entire
    write → compact → swap → GC → read cycle, not just bookkeeping.

    Scale: compaction is per-bucket (one job per chunk, the retryable unit),
    coalesce not repartition (no shuffle — file-merge only), and GC is a
    manifest-set difference, O(#directories)."""
    import shutil
    import tempfile

    from ocrautomator_spark.spark.tableio import ParquetManifestIO

    scratch = tempfile.mkdtemp(prefix="ocras_lifecycle_")
    try:
        io = ParquetManifestIO(scratch)
        bucket = (
            F.conv(F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 1), 16, 10)
            .cast("int") % LIFECYCLE_NBUCKETS
        )
        docs = T(spark, sf, "documents").select("doc_id", bucket.alias("bucket"))
        for b in range(LIFECYCLE_NBUCKETS):
            io.write_bucket(
                docs.filter(F.col("bucket") == b).repartition(LIFECYCLE_FILES_PER_BUCKET),
                b,
                "lifecycle-ingest",
            )
        # a crashed run's uncommitted chunk: data, no manifest
        io.write_bucket_data(docs.limit(10), 99)
        manifests = [
            io.compact_bucket(spark, b, "lifecycle-compact")
            for b in range(LIFECYCLE_NBUCKETS)
        ]
        # the Iceberg maintenance sequence: expire history first (pre-
        # compaction generations stay pinned by retained snapshots until
        # then), THEN collect orphans. older_than=0: this scratch store has
        # no concurrent ingest by construction, so the in-flight-write
        # grace window doesn't apply.
        io.expire_snapshots(keep_last=1)
        removed = io.gc_orphans(older_than=0)
        # integrity gates raise (not assert: must survive `python -O`)
        if not any("bucket=00099" in p for p in removed):
            raise RuntimeError(f"orphan chunk not GC'd: {removed}")
        if len(removed) != LIFECYCLE_NBUCKETS + 1:
            raise RuntimeError(f"unexpected GC set: {removed}")
        # materialize the per-bucket counts (LIFECYCLE_NBUCKETS rows, bounded)
        # BEFORE tearing down the scratch store the lazy plan reads from
        counts = (
            io.read(spark).groupBy("bucket").agg(F.count("*").alias("n_rows")).collect()
        )
        rows = {r["bucket"]: r["n_rows"] for r in counts}
        return spark.createDataFrame(
            [
                (m["bucket"], int(rows.get(m["bucket"], 0)), m["files_before"], m["files_after"])
                for m in manifests
            ],
            "bucket int, n_rows bigint, files_before int, files_after int",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ------------------------------------------------------- time travel

# Snapshot probes for the time-travel entry: the table is bucketed by
# doc_id parity; snapshot 2 is the fully-ingested original, the current
# view has bucket 0 rewritten without doc_id % 7 == 0 (a GDPR-style
# delete-rewrite). Both probes gate row count AND an exact bigint
# doc_id checksum, so the oracle verifies the bytes served by each
# snapshot, not just bookkeeping.
TT_DELETE_MOD = 7

_TIME_TRAVEL_SQL = f"""
    SELECT 2 AS snapshot_id, COUNT(*) AS n_rows,
           SUM(doc_id) AS sum_doc_id
    FROM documents
    UNION ALL
    SELECT 4, COUNT_IF(NOT (doc_id % 2 = 0 AND doc_id % {TT_DELETE_MOD} = 0)),
           SUM(CASE WHEN NOT (doc_id % 2 = 0 AND doc_id % {TT_DELETE_MOD} = 0)
                    THEN doc_id END)
    FROM documents
"""


@q("lifecycle_time_travel", _TIME_TRAVEL_SQL)
def lifecycle_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot history + time travel on the manifest store — Iceberg's
    snapshot log and ``VERSION AS OF`` rebuilt on the parquet twin
    (tableio.ParquetManifestIO.snapshots/read_snapshot/expire_snapshots).

    The entry runs the full history lifecycle against a scratch store:
    ingest documents as two parity buckets (snapshots 1-2), rewrite bucket
    0 without the doc_id % TT_DELETE_MOD == 0 rows — a GDPR-style delete —
    (snapshot 3), compact bucket 1 (snapshot 4), then read the table AS OF
    snapshot 2 (the pre-delete original) and AS OF the current snapshot,
    returning row counts + exact doc_id checksums for both. The oracle
    recomputes both states from the source table, so the gate verifies
    that time travel serves the ORIGINAL bytes after two later rewrites.
    Integrity raises: the pre-delete read must still see the deleted rows;
    after expire_snapshots + gc_orphans, the old snapshot must become
    unreadable (FileNotFoundError) — history release is observable, not
    silent.

    Scale: a snapshot read lists O(buckets) paths from one log entry and
    scans only those files; expire + GC is the same manifest-set
    difference as lifecycle_compact_stats. The per-commit full-state log
    entry is linear in bucket count — the documented trade vs Iceberg's
    shared manifest subtrees (production backend)."""
    import shutil
    import tempfile

    from ocrautomator_spark.spark.tableio import ParquetManifestIO

    scratch = tempfile.mkdtemp(prefix="ocras_timetravel_")
    try:
        io = ParquetManifestIO(scratch)
        docs = T(spark, sf, "documents").select("doc_id")
        for b in range(2):  # snapshots 1, 2
            io.write_bucket(docs.filter(F.col("doc_id") % 2 == b), b, "tt-ingest")
        # snapshot 3: delete-rewrite of bucket 0
        io.write_bucket(
            docs.filter(
                (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % TT_DELETE_MOD != 0)
            ),
            0,
            "tt-delete",
        )
        io.compact_bucket(spark, 1, "tt-compact")  # snapshot 4
        snaps = [s["snapshot_id"] for s in io.snapshots()]
        if snaps != [1, 2, 3, 4]:
            raise RuntimeError(f"unexpected snapshot history: {snaps}")

        def probe(df):
            row = df.agg(
                F.count("*").alias("n"), F.sum("doc_id").alias("s")
            ).collect()[0]
            return int(row["n"]), int(row["s"])

        as_of_2 = probe(io.read_snapshot(spark, 2))  # pre-delete original
        current = probe(io.read(spark))
        if probe(io.read_snapshot(spark, 4)) != current:
            raise RuntimeError("latest snapshot must equal the current view")

        # release history: expired snapshot becomes unreadable, not stale
        io.expire_snapshots(keep_last=1)
        io.gc_orphans(older_than=0)
        try:
            io.read_snapshot(spark, 2)
            raise RuntimeError("expired snapshot 2 still readable after GC")
        except FileNotFoundError:
            pass
        if probe(io.read(spark)) != current:
            raise RuntimeError("current view changed across expire/GC")

        return spark.createDataFrame(
            [(2, as_of_2[0], as_of_2[1]), (4, current[0], current[1])],
            "snapshot_id int, n_rows bigint, sum_doc_id bigint",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

"""Corpus-curation operators for pretraining-data pipelines.

The four ops a 100 TB curation run executes between raw extraction and
tokenization: benchmark decontamination (n-gram overlap against a held-out
eval set), Gopher-style repetition statistics, a staged quality-filter
funnel with per-stage survival counts, and corpus term document-frequency
(tokenizer-vocabulary prep).

Scale notes:
* decontamination is a broadcast left join — the eval side is benchmark
  text (megabytes even for dozens of benchmarks), so the 100 TB train side
  never shuffles: each task checks its grams against the broadcast set and
  the only exchange is the per-doc count aggregation on doc_id;
* repetition stats are computed entirely with array higher-order functions
  (transform/filter/array_distinct) — a pure narrow map over the corpus,
  ZERO shuffles; the per-doc mode scan is O(distinct·len) but documents are
  bounded-length, so it stays cheap and JVM-side;
* the filter funnel is the same narrow map followed by ONE single-row
  conditional aggregation (sum of flag ints) — at 100 TB this is a scan
  plus a 5-row result, the cheapest possible audit of a filter chain;
* term_df dedups (doc_id, term) pairs map-side via array_distinct BEFORE
  exploding, so the groupBy(term) shuffle carries each term once per doc,
  never once per occurrence — on natural text that is a 2-5x shuffle cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocrautomator_spark.queries.common import T, q
from ocrautomator_spark.queries.pipeline_ops import _word_ngrams

# ------------------------------------------------------- decontamination

EVAL_MOD = 37  # deterministic held-out "benchmark" slice: doc_id % 37 == 0
DECONTAM_N = 3  # n-gram order; 3 is the classic contamination unit for word text


@q(
    "curation_decontaminate",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    g AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS gram
          FROM w, UNNEST(generate_series(1, greatest(len(words) - 2, 1))) AS t(i)),
    e AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0),
    hits AS (SELECT g.doc_id, COUNT(e.gram) AS n_hit
             FROM g LEFT JOIN e ON g.gram = e.gram
             WHERE g.doc_id % {EVAL_MOD} <> 0
             GROUP BY g.doc_id)
    SELECT doc_id, n_hit AS n_hit_grams,
           CASE WHEN n_hit > 0 THEN 1 ELSE 0 END AS is_contaminated
    FROM hits
    """,
)
def curation_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    3-gram with a held-out eval slice (doc_id % 37 == 0 stands in for the
    benchmark corpus — deterministic, no external data). Every train doc is
    kept in the output with its hit count so the downstream filter threshold
    is a policy choice, not baked in here.

    Scale: the eval gram set is broadcast (benchmarks are tiny vs the
    corpus); the train side sees a BroadcastHashJoin — no shuffle of the
    100 TB side except the final doc_id count agg."""
    grams = _word_ngrams(T(spark, sf, "documents"), DECONTAM_N)
    eval_g = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    return (
        train.join(F.broadcast(eval_g), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count("_hit").alias("n_hit_grams"))
        .withColumn(
            "is_contaminated", (F.col("n_hit_grams") > 0).cast("int")
        )
    )


# ---------------------------------------------------- repetition quality

def _word_stats_cols(words):
    """Array-native per-doc stats (no shuffle): n_words, n_distinct, and the
    count of the most frequent word (mode count, O(distinct·len) scan)."""
    n_words = F.size(words)
    distinct = F.array_distinct(words)
    top_cnt = F.array_max(
        F.transform(distinct, lambda x: F.size(F.filter(words, lambda y: y == x)))
    )
    return n_words, F.size(distinct), top_cnt


def _bigram_cols(words):
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - 1, F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, 2)))
    return F.size(grams), F.size(F.array_distinct(grams))


# The per-doc word/bigram stats CTE — the SQL twin of _word_stats_cols +
# _bigram_cols. ONE definition shared by the repetition-stats and funnel
# oracles so the twins cannot drift from each other (the DataFrame side
# already shares the column helpers).
_WORD_STATS_CTE = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    s AS (SELECT doc_id,
                 len(words) AS n_words,
                 len(list_distinct(words)) AS n_distinct,
                 list_max(list_transform(list_distinct(words),
                     x -> len(list_filter(words, y -> y = x)))) AS top_cnt,
                 len(list_transform(generate_series(1, greatest(len(words)-1, 1)),
                     i -> array_to_string(words[i:i+1], ' '))) AS n_2g,
                 len(list_distinct(list_transform(generate_series(1, greatest(len(words)-1, 1)),
                     i -> array_to_string(words[i:i+1], ' ')))) AS n_2g_d
          FROM w)
"""

_REP_STATS_SQL = f"""
    {_WORD_STATS_CTE}
    SELECT doc_id, n_words,
           CAST(n_distinct AS DOUBLE) / n_words AS distinct_word_ratio,
           CAST(top_cnt AS DOUBLE) / n_words AS top_word_fraction,
           1.0 - CAST(n_2g_d AS DOUBLE) / n_2g AS dup_2gram_fraction
    FROM s
"""


@q("curation_repetition_stats", _REP_STATS_SQL)
def curation_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-word ratio,
    top-word fraction (mode count / length), duplicate-2-gram fraction.

    Scale: a pure narrow map — all three stats come from array higher-order
    functions on the split column, so the plan is scan → project with zero
    exchanges. Ratios are single IEEE divisions of exact integers, so Spark
    and DuckDB produce bit-identical doubles.

    The split is projected ONCE as an aliased column before the stats
    expressions reference it: pasting the raw split() Column into the HOF
    lambdas duplicates the split per lambda element (subexpression
    elimination does not reach inside HOFs), re-tokenizing each document
    O(distinct) times — measured 4x slower at sf0.1."""
    split_docs = T(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    words = F.col("words")
    n_words, n_distinct, top_cnt = _word_stats_cols(words)
    n_2g, n_2g_d = _bigram_cols(words)
    return split_docs.select(
        "doc_id",
        n_words.alias("n_words"),
        (n_distinct.cast("double") / n_words).alias("distinct_word_ratio"),
        (top_cnt.cast("double") / n_words).alias("top_word_fraction"),
        (F.lit(1.0) - n_2g_d.cast("double") / n_2g).alias("dup_2gram_fraction"),
    )


# --------------------------------------------------------- filter funnel

# Cumulative stages (each ANDs with all previous). Thresholds chosen to give
# real drops on the synthetic corpus: 500 -> 382 -> 371 -> 315 -> 304 at
# sf0.01 (checked before committing; parity gates the exact values).
FUNNEL_LEN_MIN, FUNNEL_LEN_MAX = 25, 90
FUNNEL_TOP_MAX = 0.15
FUNNEL_DIV_MIN = 0.35
FUNNEL_REP_MAX = 0.08

_FUNNEL_SQL = f"""
    {_WORD_STATS_CTE},
    f AS (SELECT
            n_words BETWEEN {FUNNEL_LEN_MIN} AND {FUNNEL_LEN_MAX} AS f_len,
            CAST(top_cnt AS DOUBLE) / n_words <= {FUNNEL_TOP_MAX} AS f_top,
            CAST(n_distinct AS DOUBLE) / n_words >= {FUNNEL_DIV_MIN} AS f_div,
            1.0 - CAST(n_2g_d AS DOUBLE) / n_2g <= {FUNNEL_REP_MAX} AS f_rep
          FROM s),
    a AS (SELECT COUNT(*) AS c0,
                 COUNT_IF(f_len) AS c1,
                 COUNT_IF(f_len AND f_top) AS c2,
                 COUNT_IF(f_len AND f_top AND f_div) AS c3,
                 COUNT_IF(f_len AND f_top AND f_div AND f_rep) AS c4
          FROM f)
    SELECT '0_ingest' AS stage, c0 AS n_docs FROM a
    UNION ALL SELECT '1_word_count', c1 FROM a
    UNION ALL SELECT '2_top_word', c2 FROM a
    UNION ALL SELECT '3_diversity', c3 FROM a
    UNION ALL SELECT '4_repetition', c4 FROM a
"""


@q("curation_filter_funnel", _FUNNEL_SQL)
def curation_filter_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-filter funnel: per-stage survival counts for a cumulative
    filter chain (word count -> top-word fraction -> lexical diversity ->
    2-gram repetition). The audit every curation run prints before
    committing to thresholds.

    Scale: one narrow map computing the four flags, then ONE single-row
    conditional aggregation (sum of flag ints, partial-agg friendly); the
    5-row funnel comes from stack() on that row — total cost is one corpus
    scan regardless of size. The split is pre-projected as an aliased
    column (see curation_repetition_stats): with four flag expressions each
    pasting the raw split() into HOF lambdas, the funnel re-tokenized every
    document dozens of times (measured 3.6 s -> sub-second at sf0.1)."""
    split_docs = T(spark, sf, "documents").select(F.split("text", " ").alias("words"))
    words = F.col("words")
    n_words, n_distinct, top_cnt = _word_stats_cols(words)
    n_2g, n_2g_d = _bigram_cols(words)
    flags = split_docs.select(
        n_words.between(FUNNEL_LEN_MIN, FUNNEL_LEN_MAX).alias("f_len"),
        (top_cnt.cast("double") / n_words <= FUNNEL_TOP_MAX).alias("f_top"),
        (n_distinct.cast("double") / n_words >= FUNNEL_DIV_MIN).alias("f_div"),
        (F.lit(1.0) - n_2g_d.cast("double") / n_2g <= FUNNEL_REP_MAX).alias("f_rep"),
    )
    agg = flags.agg(
        F.count("*").alias("c0"),
        F.sum(F.col("f_len").cast("long")).alias("c1"),
        F.sum((F.col("f_len") & F.col("f_top")).cast("long")).alias("c2"),
        F.sum((F.col("f_len") & F.col("f_top") & F.col("f_div")).cast("long")).alias("c3"),
        F.sum(
            (F.col("f_len") & F.col("f_top") & F.col("f_div") & F.col("f_rep")).cast("long")
        ).alias("c4"),
    )
    return agg.select(
        F.expr(
            "stack(5, '0_ingest', c0, '1_word_count', c1, '2_top_word', c2,"
            " '3_diversity', c3, '4_repetition', c4) AS (stage, n_docs)"
        )
    )


# ---------------------------------------------------- stratified sampling

# Per-language Bernoulli rates as md5-prefix thresholds: a doc is kept when
# the first two hex chars of md5(doc_id) compare <= the stratum threshold.
# '3f' = 64/256 = 25% (downsample overrepresented en), 'ff' = keep all
# (low-resource zh), '7f' = 128/256 = 50% for the rest. The hash is on the
# stable doc identity, so the sample is reproducible run-over-run and
# engine-independent (md5 hex is identical in Spark and DuckDB).
SAMPLE_THRESHOLDS = {"en": "3f", "zh": "ff"}
SAMPLE_DEFAULT_THRESHOLD = "7f"


def _threshold_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN '{th}'" for lang, th in sorted(SAMPLE_THRESHOLDS.items())
    )
    return f"CASE lang {whens} ELSE '{SAMPLE_DEFAULT_THRESHOLD}' END"


@q(
    "curation_sample_stratified",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= {_threshold_case_sql()}
    """,
)
def curation_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified Bernoulli sampling by language: keep a doc
    when a 2-hex-char prefix of md5(doc_id) falls under its stratum's
    threshold (en 25%, zh 100%, default 50%). Hash-based sampling — not
    rand() — so the sample is stable across retries, resumes, and engines,
    which is what a resumable 100 TB curation run requires.

    Scale: a pure narrow filter (zero shuffles, zero sort); the per-row cost
    is one md5 of a short string. Rates are data-independent so the sampled
    fraction concentrates tightly around the target at corpus scale."""
    key = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 2)
    threshold = F.lit(SAMPLE_DEFAULT_THRESHOLD)
    for lang, th in sorted(SAMPLE_THRESHOLDS.items()):
        threshold = F.when(F.col("lang") == lang, F.lit(th)).otherwise(threshold)
    return (
        T(spark, sf, "documents")
        .filter(key <= threshold)
        .select("doc_id", "lang", "source")
    )


# ------------------------------------------------------------ mix planning

@q(
    "curation_mix_plan",
    """
    WITH a AS (SELECT lang, COUNT(*) AS n_docs,
                      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, COUNT(*) AS n_strata FROM a)
    SELECT lang, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / (SELECT total FROM t) AS token_share,
           (CAST(1.0 AS DOUBLE) / (SELECT n_strata FROM t))
             / (CAST(n_tokens AS DOUBLE) / (SELECT total FROM t)) AS mix_factor
    FROM a
    """,
)
def curation_mix_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus mix plan: per-language token counts, the share of the corpus
    each language holds, and the up/down-sampling factor that would equalize
    the mix (uniform target across strata) — the table a pretraining run
    reads before setting per-source sampling weights.

    Scale: one groupBy(lang) with map-side partials (tokens counted with
    size(split) — JVM-side), then the grand total and stratum count join
    back as a 1-row broadcast. Strata counts are tiny by definition, so
    everything after the first agg is driver-free constant work."""
    a = (
        T(spark, sf, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
    )
    t = a.agg(
        F.sum("n_tokens").alias("total"), F.count("*").alias("n_strata")
    )
    share = F.col("n_tokens").cast("double") / F.col("total")
    return (
        a.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            share.alias("token_share"),
            ((F.lit(1.0) / F.col("n_strata")) / share).alias("mix_factor"),
        )
    )


# --------------------------------------------------------------- term DF

TERM_DF_MIN = 2  # vocab floor: drop hapax terms (tokenizer-prep convention)


@q(
    "curation_term_df",
    f"""
    WITH p AS (SELECT DISTINCT doc_id, word
               FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
                     FROM documents)),
    n AS (SELECT COUNT(*) AS total FROM documents)
    SELECT word AS term, COUNT(*) AS df,
           CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM n) AS doc_frac
    FROM p GROUP BY word HAVING COUNT(*) >= {TERM_DF_MIN}
    """,
)
def curation_term_df(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus term document-frequency (tokenizer-vocabulary prep): for each
    term, the number and fraction of documents containing it, hapaxes
    dropped (df >= 2).

    Scale: array_distinct BEFORE explode dedups (doc, term) map-side so the
    groupBy(term) shuffle carries one row per (doc, term), not one per
    occurrence; the corpus total rides in as a 1-row broadcast (no driver
    collect). Natural-language term frequency is Zipfian, but the partial
    agg absorbs the head terms map-side before the exchange."""
    docs = T(spark, sf, "documents")
    total = docs.agg(F.count("*").alias("total"))
    pairs = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    return (
        pairs.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= TERM_DF_MIN)
        .crossJoin(F.broadcast(total))
        .select("term", "df", (F.col("df").cast("double") / F.col("total")).alias("doc_frac"))
    )


# -------------------------------------------------------------- PII scrub

# Conservative, engine-portable patterns: character classes + greedy
# quantifiers only (no lookaround, no backreferences), so Java regex
# (Spark), RE2 (DuckDB), and Python `re` all produce identical match
# extents. The corpus has no natural PII, so each doc gets deterministic
# planted contact info (from its own source/doc_id) — the scrub paths are
# exercised by construction.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


@q(
    "curation_pii_scrub",
    f"""
    WITH d AS (SELECT doc_id,
                      coalesce(text, '') || ' contact ' || source ||
                      '@example.com tel +1 (202) 555-01' ||
                      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS dirty
               FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(dirty, '{PII_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(dirty, '{PII_PHONE_RE}')) AS INT) AS n_phones,
           md5(regexp_replace(regexp_replace(dirty, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                              '{PII_PHONE_RE}', '[PHONE]', 'g')) AS scrub_hash
    FROM d
    """,
)
def curation_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (email + phone → typed placeholders) with per-doc
    match counts and an md5 of the scrubbed text — the hash gates the FULL
    redacted output byte-for-byte, not just the counts. DuckDB's
    regexp_replace needs the 'g' flag to match Spark's replace-all.

    Scale: a pure narrow map (two regexp_replace + two regexp_count per
    row, all JVM-side) — zero shuffles; the same shape at any corpus size."""
    docs = T(spark, sf, "documents")
    dirty = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact "),
        F.col("source"),
        F.lit("@example.com tel +1 (202) 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(dirty, PII_EMAIL_RE, "[EMAIL]"), PII_PHONE_RE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(dirty, F.lit(PII_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(dirty, F.lit(PII_PHONE_RE)).cast("int").alias("n_phones"),
        F.md5(F.encode(scrub, "utf-8")).alias("scrub_hash"),
    )


# ------------------------------------------------ deterministic shuffle

SHUFFLE_SEED = "epoch0"   # changing the seed re-deals the whole corpus
SHUFFLE_NSHARDS = 16


@q(
    "curation_shuffle_shards",
    f"""
    WITH h AS (SELECT doc_id,
                      md5(CAST(doc_id AS VARCHAR) || '|{SHUFFLE_SEED}') AS hx
               FROM documents),
    s AS (SELECT doc_id, hx,
                 CAST('0x' || substring(hx, 1, 2) AS INT) % {SHUFFLE_NSHARDS} AS shard
          FROM h)
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS INT)
             AS shard_pos
    FROM s
    """,
)
def curation_shuffle_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Global deterministic corpus shuffle for training-order randomization:
    each document's position is derived from md5(doc_id || seed) — shard =
    leading hash byte mod NSHARDS, within-shard order = the hash itself.
    Reading shards round-robin replays one full epoch in a pseudo-random
    order that is identical on every run/engine (no rand()); bumping
    SHUFFLE_SEED re-deals the corpus for the next epoch. Complements
    sample_stratified / mix_plan: those pick WHAT to train on, this fixes
    the ORDER it is served in.

    Scale: ONE shuffle on the shard key plus a within-shard sort — there is
    deliberately no global ROW_NUMBER (a total order would serialize through
    one partition); consumers that need a global position use
    (shard, shard_pos) lexicographically, which is exactly how sharded
    training data is striped across data-loader workers at 100 TB."""
    from pyspark.sql.window import Window

    h = T(spark, sf, "documents").select(
        "doc_id",
        F.md5(
            F.encode(F.concat(F.col("doc_id").cast("string"), F.lit(f"|{SHUFFLE_SEED}")), "utf-8")
        ).alias("hx"),
    )
    s = h.withColumn(
        "shard", (F.conv(F.substring("hx", 1, 2), 16, 10).cast("int") % SHUFFLE_NSHARDS)
    )
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return s.select(
        "doc_id", "shard", F.row_number().over(w).cast("int").alias("shard_pos")
    )


# ------------------------------------------- target-ratio importance weights

IW_TARGET_LANG = "en"  # the "high-quality target distribution" stand-in


@q(
    "curation_importance_weights",
    f"""
    WITH w AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS term
               FROM documents),
    tf AS (SELECT doc_id, lang, term, COUNT(*) AS tf FROM w GROUP BY 1, 2, 3),
    raw AS (SELECT term, SUM(tf) AS cr FROM tf GROUP BY term),
    tgt AS (SELECT term, SUM(tf) AS ct FROM tf WHERE lang = '{IW_TARGET_LANG}'
            GROUP BY term),
    j AS (SELECT tf.doc_id, tf.lang, tf.term,
                 CAST(tf.tf * COALESCE(tgt.ct, 0) AS DOUBLE) / raw.cr AS contrib
          FROM tf JOIN raw USING (term) LEFT JOIN tgt USING (term))
    SELECT doc_id, lang, COUNT(*) AS n_terms,
           list_sum(list(contrib ORDER BY term)) AS raw_score
    FROM j GROUP BY doc_id, lang
    """,
)
def curation_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Data-selection importance weighting (the DSIR shape, log-free
    variant): each document scores Σ_t tf_d(t) · count_target(t) /
    count_raw(t) against a target distribution (here the lang='en' slice) —
    documents whose term mass concentrates where the target's does rank
    highest, the signal used to importance-sample a raw crawl toward a
    high-quality reference corpus. The log-free RATIO form (rather than
    DSIR's log-likelihood ratio, which preserves ranking monotonicity per
    term) is chosen deliberately: tf·ct is exact integer arithmetic and
    IEEE division is correctly rounded in BOTH engines, so each term's
    contribution is the bit-identical double in Spark and DuckDB, and the
    per-doc sum is made order-independent by folding contributions in
    SORTED term order (sort_array struct fold ≡ DuckDB list(... ORDER BY)
    + list_sum) — the whole score is hash-gated exactly, no rank-only
    hedging needed.

    Scale: one (doc, term) tf aggregation (map-side combinable), two tiny
    term-stat aggregations joined back on the term key, one final doc_id
    reduce — the same shuffle budget as term_df; no driver-side state."""
    d = T(spark, sf, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    )
    tf = d.groupBy("doc_id", "lang", "term").agg(F.count("*").alias("tf"))
    raw = tf.groupBy("term").agg(F.sum("tf").alias("cr"))
    tgt = (
        tf.filter(F.col("lang") == IW_TARGET_LANG)
        .groupBy("term")
        .agg(F.sum("tf").alias("ct"))
    )
    contrib = (F.col("tf") * F.coalesce(F.col("ct"), F.lit(0))).cast("double") / F.col("cr")
    j = (
        tf.join(raw, "term")
        .join(tgt, "term", "left")
        .select("doc_id", "lang", "term", contrib.alias("contrib"))
    )
    folded = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))),
            lambda r: r.getField("contrib"),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return j.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_terms"), folded.alias("raw_score")
    )


# ---------------------------------------------------- LM-rarity filtering

# CCNet-style perplexity filtering ranks documents by how "surprising" their
# text is under a corpus-level language model. A cross-engine float log-prob
# sum cannot be hash-gated (IEEE addition is order-dependent), so this entry
# keeps the SAME ranking signal in the exact integer domain: a document's
# rarity is the fraction of its bigram occurrences whose corpus-wide
# frequency is at most 1/RARITY_DENOM of all bigram occurrences. Rare-bigram
# density is the discrete skeleton of high perplexity (unlikely transitions
# dominate -log P under any n-gram LM), and every quantity here — counts,
# the relative-frequency test, the ppm ratio — is integer arithmetic that
# DuckDB reproduces bit-exactly.
RARITY_DENOM = 1500  # rare ⇔ bigram freq ≤ 1/1500 of all occurrences
RARITY_TOPN = 100
_RARITY_SEP = "\x1f"  # chr(31): never appears inside a corpus word

_RARITY_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    b AS (SELECT doc_id, words FROM w WHERE len(words) >= 2),
    g AS (SELECT doc_id, array_to_string(words[i:i+1], chr(31)) AS bg
          FROM b, UNNEST(generate_series(1, len(words) - 1)) AS t(i)),
    c AS (SELECT bg, COUNT(*) AS cnt FROM g GROUP BY bg),
    r AS (SELECT bg FROM c WHERE cnt * {RARITY_DENOM} <= (SELECT SUM(cnt) FROM c)),
    nr AS (SELECT doc_id, COUNT(*) AS n_rare FROM g JOIN r USING (bg) GROUP BY doc_id),
    p AS (SELECT doc_id, len(words) - 1 AS n_bigrams FROM b)
    SELECT p.doc_id, p.n_bigrams, COALESCE(nr.n_rare, 0) AS n_rare,
           (COALESCE(nr.n_rare, 0) * 1000000) // p.n_bigrams AS rare_ppm
    FROM p LEFT JOIN nr USING (doc_id)
    ORDER BY rare_ppm DESC, p.doc_id
    LIMIT {RARITY_TOPN}
"""


@q("curation_lm_rarity", _RARITY_SQL)
def curation_lm_rarity(spark: SparkSession, sf: str) -> DataFrame:
    """Rank documents by rare-bigram density — the exact-integer skeleton of
    a CCNet-style corpus-LM perplexity filter.

    The corpus bigram table is built once (explode → groupBy(bg), map-side
    combinable), the rare set is the relative-frequency tail (cnt·DENOM ≤
    total occurrences — a scale-invariant test, so the same entry is
    non-vacuous at every SF), and each document is scored by how many of its
    bigram occurrences fall in that tail, as parts-per-million of its bigram
    count (integer div — hash-exact across engines).

    Scale: the rare join is skew-proof BY CONSTRUCTION — a key qualifies as
    rare only if it carries ≤ occ/DENOM occurrences, so no hot key can
    exist on the probe side; heavy hitters ("of the") are excluded by the
    definition itself, never joined. The bigram count table is
    vocabulary-sized (≪ corpus) and is materialized ONCE behind an explicit
    barrier — it has three consumers (the total-count scalar, the rare
    filter, and transitively the probe join), and without the barrier every
    consumer re-runs the corpus scan + explode (the round-5 reused-exchange
    lesson; measured 8 parquet scans in the naive plan). Both per-doc
    outputs (n_bigrams, n_rare) come from a SINGLE pass over the occurrence
    stream — a left join against the rare set marks each occurrence, one
    groupBy(doc_id) counts all and rare together — so the corpus is read
    exactly twice (once into the count barrier, once for scoring), with one
    join exchange on bg and one reduce on doc_id."""
    docs = T(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    words = F.col("words")
    # zip_with over two whole-array slices of the pre-aliased words column,
    # NOT transform(sequence, i -> slice(words, i, 2)): the per-index form
    # pastes the split into every lambda element, re-splitting each
    # document O(len) times (measured 3.5 s vs 0.6 s for this scan at
    # sf0.1; see _split_words in pipeline_ops for the general rule).
    grams = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat_ws(_RARITY_SEP, a, b),
    )
    # SINGLE corpus scan (r7, VERDICT r6 item 2): the occurrence stream has
    # two consumers (the count table and the scoring join) — without a
    # barrier each consumer re-ran the split+zip_with+explode over the
    # corpus, the exact double-read the r6 driver window punished 6.5x.
    # The barrier sits on the PRE-explode gram arrays (5k rows of arrays,
    # not 750k exploded rows): materializing the exploded stream itself
    # measured ~1 s slower — the explode re-runs from cache at C speed, the
    # expensive split+zip_with does not.
    base = (
        docs.where(F.size(words) >= 2)
        .select("doc_id", grams.alias("grams"))
        .localCheckpoint()
    )
    ex = base.select("doc_id", F.explode("grams").alias("bg"))
    counts = ex.groupBy("bg").agg(F.count("*").alias("cnt")).localCheckpoint()
    occ = counts.agg(F.sum("cnt").alias("occ"))
    # Complement join (r7): instead of marking occurrences of the RARE set
    # (nearly the whole vocabulary — a corpus-sized shuffle join on bg), mark
    # occurrences of the HOT complement and subtract. A bigram is hot iff
    # cnt·DENOM > occ, so AT MOST RARITY_DENOM bigrams can be hot — a
    # provably bounded broadcast side at ANY corpus size. is_rare ≡ NOT hot,
    # n_rare = n_bigrams − n_hot: identical integers, and the only exchange
    # left in the scoring pass is the per-doc reduce.
    hot = (
        counts.crossJoin(F.broadcast(occ))
        .where(F.col("cnt") * RARITY_DENOM > F.col("occ"))
        .select("bg", F.lit(1).alias("is_hot"))
    )
    return (
        ex.join(F.broadcast(hot), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(F.col("is_hot").isNull(), 1).otherwise(0)).alias("n_rare"),
        )
        .withColumn("rare_ppm", F.expr("(n_rare * CAST(1000000 AS BIGINT)) div n_bigrams"))
        .orderBy(F.desc("rare_ppm"), "doc_id")
        .limit(RARITY_TOPN)
    )

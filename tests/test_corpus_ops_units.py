"""Corpus lifecycle operators: kill-path evidence for incremental dedup,
keep-best optimality, BM25 plan shape (no posting-list shuffle), skew-diag
conservation."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from ocrautomator_spark.queries import QUERIES
from ocrautomator_spark.queries.corpus_ops import REPLAY_OFFSET, SNAP_MAX
from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ------------------------------------------------------- incremental dedup

def test_incremental_snapshot_kill_paths_fire(spark):
    out = QUERIES["dedup_incremental_snapshot"](spark, SF_DIR).collect()
    assert out
    # in-batch dedup: every replayed fetch lost to its lower-id original
    assert all(r["doc_id"] < REPLAY_OFFSET for r in out)
    # snapshot anti-join: re-crawled pages ('8'..SNAP_MAX) never survive
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pfx = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 1)
    base_incoming = docs.filter(pfx >= "8").count()
    fresh_only = docs.filter(pfx > SNAP_MAX).count()
    assert len(out) == fresh_only < base_incoming
    # no duplicate survivors
    assert len({r["doc_id"] for r in out}) == len(out)


# ---------------------------------------------------------- keep-best

def test_keep_best_is_longest_member_and_partitions_match_keeper(spark):
    best = QUERIES["dedup_cluster_keep_best"](spark, SF_DIR).collect()
    lens = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", F.length("text").alias("n_chars"))
        .collect()
    }
    for r in best:
        k, d = r["keeper"], r["doc_id"]
        assert lens[k] > lens[d] or (lens[k] == lens[d] and k <= d), (k, d)
        assert r["is_keeper"] == (1 if k == d else 0)
    # component structure identical to the min-id keeper entry: same
    # grouping of docs, only the representative differs
    def parts(rows):
        g = {}
        for r in rows:
            g.setdefault(r["keeper"], set()).add(r["doc_id"])
        return set(frozenset(v) for v in g.values())

    minid = QUERIES["dedup_cluster_keeper"](spark, SF_DIR).collect()
    assert parts(best) == parts(minid)


# --------------------------------------------------------------- BM25

def test_bm25_single_pass_no_doc_term_shuffle(spark):
    """tf comes from array HOFs, stats from one broadcast row — the plan
    must contain no hash-partitioned exchange and must top-k via
    TakeOrderedAndProject, not a global sort."""
    plan = _plan(QUERIES["search_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"hashpartitioning", plan), "no (doc,term) shuffle allowed"


def test_bm25_ranks_dense_and_matched(spark):
    rows = QUERIES["search_bm25_topk"](spark, SF_DIR).collect()
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
        range(1, len(rows) + 1)
    )
    assert all(r["n_terms"] >= 1 and r["tf_total"] >= r["n_terms"] for r in rows)


# ----------------------------------------------------------- skew diag

def test_key_skew_conserves_rows_and_ratio(spark):
    rows = QUERIES["diag_key_skew"](spark, SF_DIR).collect()
    total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(r["n_rows"] for r in rows) == total
    assert all(len(r["bucket"]) == 1 and r["bucket"] in "0123456789abcdef" for r in rows)
    for r in rows:
        assert abs(r["balance_ratio"] - r["n_rows"] * 16.0 / total) < 1e-12
        assert r["n_keys"] <= r["n_rows"]

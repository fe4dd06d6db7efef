"""Mini-BPE tokenizer gates: golden regen (frozen merges == fresh training),
pinned encodings, round-trip property, and Spark-vs-kernel equality for the
token-true entries (their rows-only status is backed by these, per the
kernel-is-the-reference invariant)."""

from __future__ import annotations

import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from ocrautomator_spark.kernel import bpe
from ocrautomator_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _corpus_texts() -> list[str]:
    return (
        pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"])
        .column("text")
        .to_pylist()
    )


def test_frozen_merges_regen_exactly():
    """The golden table IS a fresh deterministic training run on the corpus —
    any drift in corpus, tie-break, or algorithm fails here instead of
    silently shifting every downstream token count."""
    assert bpe.train_bpe(_corpus_texts()) == bpe.load_merges()


def test_frozen_table_shape():
    merges = bpe.load_merges()
    assert len(merges) == bpe.N_MERGES == 48
    assert all(isinstance(a, str) and isinstance(b, str) and a and b for a, b in merges)


def test_pinned_encodings():
    tok = bpe.default_tokenizer()
    # pinned against the frozen table (regen-gated above): a fully-merged
    # frequent word, two sub-word splits, and an out-of-vocabulary word
    assert tok.encode_word("window") == ("window</w>",)
    assert tok.encode_word("the") == ("t", "h", "e</w>")
    assert tok.encode_word("customer") == ("c", "u", "st", "o", "m", "er</w>")
    assert tok.encode_word("zzz") == ("z", "z", "z", "</w>")


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz ._0-9\t\n", max_size=120))
def test_roundtrip_and_count(s):
    tok = bpe.default_tokenizer()
    toks = tok.encode(s)
    assert tok.count(s) == len(toks)
    joined = "".join(toks).replace(bpe.END_OF_WORD, " ").strip()
    assert joined == " ".join(bpe.pretokenize(s))
    # every word ends in exactly one end-of-word marker
    assert "".join(toks).count(bpe.END_OF_WORD) == len(bpe.pretokenize(s))


def test_token_stats_bpe_matches_kernel(spark):
    """Distributed counts == sequential kernel counts, 100%."""
    tok = bpe.default_tokenizer()
    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    expect = {
        int(i): tok.count(t)
        for i, t in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    }
    got = {
        r["doc_id"]: r["n_bpe_true"]
        for r in QUERIES["token_stats_bpe"](spark, SF_DIR).collect()
    }
    assert got == expect


def test_pack_tokens_matches_python_reference(spark):
    """The sharded two-pass token packing equals a single pure-Python
    cumulative scan (same contract the char variant pins across shard
    widths)."""
    from collections import Counter

    from ocrautomator_spark.queries import pipeline_ops as po

    tok = bpe.default_tokenizer()
    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    docs = sorted(
        (int(i), tok.count(t))
        for i, t in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    cum = 0
    nd: Counter = Counter()
    tot: Counter = Counter()
    for _, n in docs:
        b = cum // po.PACK_BIN_TOKENS
        nd[b] += 1
        tot[b] += n
        cum += n
    got = {
        r["bin_id"]: (r["n_docs"], r["bin_tokens"])
        for r in QUERIES["pack_contiguous_bins_tokens"](spark, SF_DIR).collect()
    }
    assert got == {b: (nd[b], tot[b]) for b in nd}


def test_sql_twin_matches_kernel_on_adversarial_words():
    """The DuckDB nested-replace BPE twin (pipeline_ops._bpe_word_count_sql)
    must reproduce the kernel's priority-rank encoder on words far outside
    the corpus vocabulary — the empirical pin of the sequential-replace ≡
    priority-application equivalence for greedily-trained merge tables:
    random words, merge products and their repeats/embeddings, and
    separator-adjacent shapes like 'a</w>b'."""
    import random

    import duckdb

    from ocrautomator_spark.kernel.bpe import default_tokenizer
    from ocrautomator_spark.queries.pipeline_ops import _bpe_word_count_sql

    tok = default_tokenizer()
    rng = random.Random(1)
    syms = sorted({c for p in tok.merges for c in p[0] + p[1] if c != "<"} | set("abcdefghijklmnopqrstuvwxyz"))
    words = {"a</w>b", "</w>", "<//w>", "aaaa", "zzzz"}
    for _ in range(1500):
        words.add("".join(rng.choice(syms) for _ in range(rng.randint(1, 14))))
    for a, b in tok.merges:
        words |= {a + b, a + b + a + b, b + a, a * 3 + b * 3, "x" + a + b + "y"}
    con = duckdb.connect()
    con.execute("CREATE TABLE words(w VARCHAR)")
    con.executemany("INSERT INTO words VALUES (?)", [(w,) for w in sorted(words)])
    rows = con.execute(f"SELECT w, {_bpe_word_count_sql()} FROM words").fetchall()
    bad = [(w, n, len(tok.encode_word(w))) for w, n in rows if n != len(tok.encode_word(w))]
    assert not bad, f"SQL twin diverges from kernel on {len(bad)} words: {bad[:10]}"

"""Exact-substring ground truth for the substring-dedup family (VERDICT r4
items 1+3): a driver-side exact window index over the gate corpus (the
bounded sorted-suffix cross-check) pins

* that NEITHER detector (md5 oracle path, Rabin-Karp production path) emits
  a false positive,
* that the two detectors' pair sets agree everywhere outside the
  within-sketch-variance borderline regime and exactly on the planted set,
* the mod-sampler's measured recall vs passage length against the binomial
  expectation P(detect) = P(Binom(L−63, 1/16) ≥ SUBSTR_MIN_SHARED).
"""

from __future__ import annotations

import math
import os
import random
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from ocrautomator_spark.queries import QUERIES
from ocrautomator_spark.queries.pipeline_ops import (
    SUBSTR_MIN_SHARED,
    SUBSTR_PLANT_LEN,
    SUBSTR_PLANT_MOD,
    SUBSTR_PLANT_OFF,
    SUBSTR_WIN,
    _SUBSTR_MIN_BASE,
)

SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")

# A pair whose true shared-window count is below this has expected sampled
# hits ≤ ~12.5 (count/16) — small enough that one hash family sampling ≥2
# while the other samples ≤1 is ordinary sketch variance. Above it, a miss
# by EITHER detector would be a ≥4σ event and fails the test.
VARIANCE_REGIME_MAX = 200
GUARANTEED_REGIME_MIN = 512  # P(Binom(512, 1/16) < 2) ≈ 4e-13: a miss is a bug


def _exact_pair_counts(docs: dict[int, str]) -> dict[tuple[int, int], int]:
    """Exact shared-64-char-window counts for every doc pair — the bounded
    driver-side ground truth (hash-free: real window strings as keys)."""
    win_docs: dict[str, set[int]] = defaultdict(set)
    for doc_id, t in docs.items():
        seen = set()
        for i in range(len(t) - SUBSTR_WIN + 1):
            w = t[i : i + SUBSTR_WIN]
            if w not in seen:
                seen.add(w)
                win_docs[w].add(doc_id)
    counts: dict[tuple[int, int], int] = defaultdict(int)
    for ds in win_docs.values():
        if len(ds) < 2:
            continue
        ds = sorted(ds)
        for ai in range(len(ds)):
            for bi in range(ai + 1, len(ds)):
                counts[(ds[ai], ds[bi])] += 1
    return dict(counts)


def _gate_corpus_docs() -> dict[int, str]:
    """Driver-side replica of _substring_corpus(..., eligible_only=True):
    lowercased docs plus the deterministic planted twins."""
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT doc_id, lower(text) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    docs = {int(d): t for d, t in rows}
    plants = {
        -doc_id - 1: (
            "zqplant-head "
            + t[SUBSTR_PLANT_OFF - 1 : SUBSTR_PLANT_OFF - 1 + SUBSTR_PLANT_LEN]
            + " zqplant-tail"
        )
        for doc_id, t in docs.items()
        if doc_id % SUBSTR_PLANT_MOD == 0 and len(t) >= _SUBSTR_MIN_BASE
    }
    docs.update(plants)
    return {d: t for d, t in docs.items() if len(t) >= SUBSTR_WIN}


def test_detectors_agree_modulo_sketch_variance(spark):
    truth = _exact_pair_counts(_gate_corpus_docs())
    md5_pairs = {
        (r.doc_a, r.doc_b) for r in QUERIES["dedup_substring_windows"](spark, SF).collect()
    }
    rk_pairs = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_substring_windows_rk"](spark, SF).collect()
    }
    # 1. no false positives: every detected pair really shares ≥ MIN_SHARED
    #    distinct 64-char windows (a violation would need a hash collision)
    for name, pairs in (("md5", md5_pairs), ("rk", rk_pairs)):
        fake = {p for p in pairs if truth.get(p, 0) < SUBSTR_MIN_SHARED}
        assert not fake, f"{name} detector emitted false positives: {fake}"
    # 2. the planted pair sets are IDENTICAL (plants share a 300-char run —
    #    ~237 windows, P(miss) < 4e-6 per hash family)
    md5_planted = {p for p in md5_pairs if p[0] < 0 or p[1] < 0}
    rk_planted = {p for p in rk_pairs if p[0] < 0 or p[1] < 0}
    assert md5_planted == rk_planted
    assert md5_planted, "no planted pairs detected — the plant is broken"
    # 3. disagreements only in the borderline regime: a pair one detector
    #    found and the other missed must have few enough true shared windows
    #    that sampling ≤1 of them is within sketch variance
    for p in md5_pairs ^ rk_pairs:
        assert truth[p] <= VARIANCE_REGIME_MAX, (
            f"detectors disagree on {p} with {truth[p]} true shared windows "
            "— outside the variance regime, one of them has a bug"
        )
    # 4. both find every pair in the guaranteed regime
    sure = {p for p, c in truth.items() if c >= GUARANTEED_REGIME_MIN}
    assert sure <= md5_pairs and sure <= rk_pairs


def _binom_detect_prob(n: int, k_min: int, p: float = 1.0 / 16) -> float:
    miss = sum(
        math.comb(n, k) * p**k * (1 - p) ** (n - k) for k in range(k_min)
    )
    return 1.0 - miss


def test_mod_sampler_recall_vs_passage_length(spark, tmp_path):
    """Measured recall of the 1/16 mod-sampled detector vs passage length,
    against the binomial expectation (VERDICT r4 item 3): plant N_PAIRS
    passage-sharing doc pairs per length L ∈ {80, 150, 300} in otherwise
    random text and assert each detector's detection rate sits within 5σ of
    P(Binom(L−63, 1/16) ≥ 2). Turns the docstring's '(L−63)/16 expected
    samples' claim into a measured number."""
    rng = random.Random(42)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
    n_pairs = 120
    lengths = [80, 150, 300]

    def rand_text(n: int) -> str:
        return "".join(rng.choice(alphabet) for _ in range(n))

    doc_ids, texts, planted = [], [], {}
    next_id = 1
    for length in lengths:
        for _ in range(n_pairs):
            passage = rand_text(length)
            a, b = next_id, next_id + 1
            # ids never ≡ 0 (mod PLANT_MOD) and docs < _SUBSTR_MIN_BASE chars,
            # so the corpus helper's own planting stays inert
            while a % SUBSTR_PLANT_MOD == 0 or b % SUBSTR_PLANT_MOD == 0:
                next_id += 1
                a, b = next_id, next_id + 1
            next_id = b + 1
            doc_ids += [a, b]
            texts += [rand_text(40) + passage + rand_text(40), rand_text(30) + passage + rand_text(50)]
            planted[(a, b)] = length
    pq.write_table(
        pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )

    for qname in ("dedup_substring_windows", "dedup_substring_windows_rk"):
        got = {
            (r.doc_a, r.doc_b)
            for r in QUERIES[qname](spark, str(tmp_path)).collect()
        }
        extra = got - set(planted)
        assert not extra, f"{qname}: pairs not planted (random-text collision?): {extra}"
        for length in lengths:
            pairs = [p for p, ln in planted.items() if ln == length]
            rate = sum(p in got for p in pairs) / len(pairs)
            expect = _binom_detect_prob(length - SUBSTR_WIN + 1, SUBSTR_MIN_SHARED)
            sigma = math.sqrt(expect * (1 - expect) / len(pairs)) or 1e-3
            assert abs(rate - expect) <= 5 * sigma + 1e-9, (
                f"{qname} L={length}: recall {rate:.3f} vs expected "
                f"{expect:.3f} ± {5 * sigma:.3f}"
            )


def test_rk_chunked_prefix_sum_seam():
    """The rolling-hash prefix sum is chunked so a >2^33-char Arrow batch
    cannot wrap uint64 (review finding r5): shrink the chunk size and verify
    hashes crossing many chunk seams equal the unchunked result and the
    direct window-sum definition."""
    import numpy as np

    import ocrautomator_spark.queries.pipeline_ops as po

    rng = np.random.default_rng(11)
    cp = rng.integers(32, 0x10FFF, size=5000).astype(np.uint64)
    ref = po._rk_hash_all_offsets(cp, po.RK_B1)  # single-chunk path
    old = po._RK_CUMSUM_CHUNK
    try:
        po._RK_CUMSUM_CHUNK = 257  # prime-ish, far from any alignment
        seamed = po._rk_hash_all_offsets(cp, po.RK_B1)
    finally:
        po._RK_CUMSUM_CHUNK = old
    assert np.array_equal(ref, seamed)
    pw = [pow(po.RK_B1, po.SUBSTR_WIN - 1 - j, po.RK_P) for j in range(po.SUBSTR_WIN)]
    for i in (0, 255, 256, 257, 258, 1027, 4936):
        direct = sum(int(cp[i + j]) * pw[j] for j in range(po.SUBSTR_WIN)) % po.RK_P
        assert int(ref[i]) == direct

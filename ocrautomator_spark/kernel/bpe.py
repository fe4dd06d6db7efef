"""Deterministic mini-BPE tokenizer (pure Python, zero pyspark imports).

Token-TRUE counting for context-budget packing: pack_contiguous_bins and
token_stats use char/word proxies (documented honestly there); real packing
budgets are in TOKENIZER tokens. This is a from-scratch byte-pair-encoding
tokenizer in the classic Sennrich et al. shape (word-internal character
merges with an explicit end-of-word symbol), trained once on the sf0.001
documents corpus and FROZEN as a golden merges table so every engine, test,
and executor tokenizes identically forever.

Determinism contract (the kernel invariant): training tie-breaks are total
(count desc, then lexicographic pair asc), application is by merge rank, and
the frozen table is regen-tested against a fresh training run — any corpus
or algorithm drift fails the golden test instead of silently shifting token
counts.
"""

from __future__ import annotations

import pathlib
from functools import lru_cache

BPE_VERSION = "0.1.0"
END_OF_WORD = "</w>"
# 48 merges on the 31-word synthetic vocabulary leaves a realistic split:
# the most frequent words fully merge to single tokens while rarer words
# stay genuinely sub-word (19/31 multi-token) — the behavior that makes
# token-true counting differ from word counting. Training saturates (every
# word one token) at ~105 merges on this corpus, which would trivialize it.
N_MERGES = 48


def pretokenize(text: str) -> list[str]:
    """Whitespace pre-tokenization over lowercased text — matches the
    corpus's single-space discipline and the split(' ') idiom the SQL-side
    word ops use (empty strings dropped, so any whitespace run is one gap)."""
    return [w for w in text.lower().split() if w]


def train_bpe(texts: list[str], n_merges: int = N_MERGES) -> list[tuple[str, str]]:
    """Classic BPE training: start from characters (+ end-of-word marker),
    repeatedly merge the most frequent adjacent symbol pair. Ties break
    lexicographically on the pair — a TOTAL order, so training is a pure
    function of the corpus multiset."""
    vocab: dict[tuple[str, ...], int] = {}
    for t in texts:
        for w in pretokenize(t):
            key = tuple(w) + (END_OF_WORD,)
            vocab[key] = vocab.get(key, 0) + 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, cnt in vocab.items():
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                pairs[p] = pairs.get(p, 0) + cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, cnt in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == best[0] and sym[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + cnt
        vocab = new_vocab
    return merges


def load_merges(path: pathlib.Path | None = None) -> list[tuple[str, str]]:
    """Load the frozen table. Default path goes through importlib.resources,
    which also works when the package ships as a spark-submit --py-files ZIP
    (zipimport implements the resource-reader API; a bare __file__ join does
    not resolve inside an archive)."""
    if path is not None:
        text = path.read_text(encoding="utf-8")
    else:
        from importlib.resources import files

        text = files("ocrautomator_spark.kernel").joinpath("bpe_merges.txt").read_text(
            encoding="utf-8"
        )
    out = []
    for line in text.splitlines():
        a, _, b = line.partition("\t")
        out.append((a, b))
    return out


class Tokenizer:
    """Frozen-merges BPE encoder. ``encode_word`` applies merges by RANK
    (lowest-rank pair present merges first — the standard application rule,
    which reproduces training segmentation exactly on seen words)."""

    def __init__(self, merges: list[tuple[str, str]] | None = None) -> None:
        self.merges = merges if merges is not None else load_merges()
        self.ranks = {p: i for i, p in enumerate(self.merges)}
        # per-instance memo: corpora repeat words heavily, so encode_word is
        # effectively a dict lookup in steady state
        self._cache: dict[str, tuple[str, ...]] = {}

    def encode_word(self, word: str) -> tuple[str, ...]:
        hit = self._cache.get(word)
        if hit is not None:
            return hit
        sym = list(word) + [END_OF_WORD]
        while len(sym) > 1:
            best_rank, best_i = None, -1
            for i in range(len(sym) - 1):
                r = self.ranks.get((sym[i], sym[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
        out = tuple(sym)
        self._cache[word] = out
        return out

    def encode(self, text: str) -> list[str]:
        toks: list[str] = []
        for w in pretokenize(text):
            toks.extend(self.encode_word(w))
        return toks

    def count(self, text: str) -> int:
        n = 0
        for w in pretokenize(text):
            n += len(self.encode_word(w))
        return n


@lru_cache(maxsize=1)
def default_tokenizer() -> Tokenizer:
    """The frozen-table tokenizer, loaded once per process (executors
    included — the merges file ships inside the package zip)."""
    return Tokenizer()

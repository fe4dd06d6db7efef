"""Shared text helpers: normalization (E8) and word statistics."""

from __future__ import annotations

import unicodedata

# Per-language function-word sets (public-knowledge high-frequency closed-class
# words) — used only as a weak tie-break signal in the block classifier (E6);
# the synthetic fixture vocabulary is language-neutral so thresholds never
# *depend* on them (FIXTURES.md §A; none of the fixture VOCAB words appear in
# any list below). The classifier uses the UNION: function words are a
# language-agnostic prose signal, and per-block language ID inside the kernel
# would cost far more than the tie-break is worth. Kernel 0.2.0.
_STOP_EN = """a an and are as at be but by for from has have if in into is it
    its of on or that the their there these they this to was were will with you
    your we not can which when what who how all also than then so no do does
    did"""
_STOP_DE = """der die das und ist im ein eine nicht mit den von zu auf für
    sich dem des auch als an werden aus er hat dass sie nach bei um noch wie
    über einem einen einer ihre seine wird sind oder aber wenn nur"""
_STOP_ES = """el la los las de del y en un una es que no con por para su al lo
    se como más pero sus le ya o fue este esta ha son entre cuando muy sin
    sobre también hasta hay donde"""
_STOP_FR = """le la les des de du et est en un une dans que qui ne pas ce pour
    sur au aux avec son ses il elle ils nous vous mais ou où donc par plus
    cette ces être sont leur dont"""
STOPWORDS = frozenset((_STOP_EN + _STOP_DE + _STOP_ES + _STOP_FR).split())

# CJK has no spaces, so word-level ratios see one giant "word"; high-frequency
# Chinese function characters give the same prose-vs-chrome signal char-wise.
# Natural Chinese prose runs ~15–25% function CHARS where English prose runs
# ~30–45% function WORDS, so the char-level ratio is normalized by
# CJK_PROSE_NORM to let the single STOPWORD_BONUS threshold serve both paths.
STOP_CJK = frozenset("的是在了和有我不人这中大为上个国一以到他会于时就要你们也其而之没很")
_CJK_LO, _CJK_HI = "一", "鿿"
CJK_PROSE_NORM = 0.6


def nfc(s: str) -> str:
    # ASCII is NFC-invariant; str.isascii() is a cheap C scan that skips the
    # normalize call for the overwhelmingly common case
    return s if s.isascii() else unicodedata.normalize("NFC", s)


def normalize_block_text(s: str) -> str:
    """Single-block normalization: all whitespace (incl. newlines) → space.
    C-level equivalent of ``re.sub(r"\\s+", " ", nfc(s)).strip()``."""
    return " ".join(nfc(s).split())


def word_count(s: str) -> int:
    return len(s.split())


def stopword_ratio(s: str) -> float:
    """Function-word density: word-level over the multi-language union, plus a
    char-level path over CJK codepoints (no word boundaries there). The max of
    the two — a mixed-script block gets whichever signal its prose carries.

    NOTE: the CJK path divides by CJK_PROSE_NORM, so the return value can
    exceed 1.0 (up to ~1/CJK_PROSE_NORM) for heavily function-word CJK text —
    it is a prose-likelihood SCORE compared against thresholds, not a true
    [0,1] ratio. Callers must not assume an upper bound of 1."""
    words = [w.strip(".,;:!?()[]\"'").lower() for w in s.split()]
    words = [w for w in words if w]
    ratio = sum(1 for w in words if w in STOPWORDS) / len(words) if words else 0.0
    if not s.isascii():
        cjk = [ch for ch in s if _CJK_LO <= ch <= _CJK_HI]
        if cjk:
            cr = sum(1 for ch in cjk if ch in STOP_CJK) / len(cjk)
            ratio = max(ratio, cr / CJK_PROSE_NORM)
    return ratio

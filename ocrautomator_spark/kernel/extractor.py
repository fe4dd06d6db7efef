"""E1+E8 — kernel entry point: dispatch by payload kind, assemble output.

``extract_one`` is the sequential reference implementation for the per-turn
equality invariant (BASELINE.json:15). The Spark job runs this function
inside batched Arrow UDFs, except for single-line ASCII plain turns, which
``spark/extract_job.py`` extracts in Arrow compute; the differential test in
tests/test_extract_job.py holds the batched result equal to ``extract_one``
row for row. Other tests target what distribution can break (partitioning,
ordering, batching, resume) — SURVEY.md §2E.

Total over arbitrary strings: never raises; unprocessable input degrades to
an empty result, mirroring the reference's skip-and-continue error channel
(SURVEY.md §2A A14).
"""

from __future__ import annotations

from ocrautomator_spark.kernel.html_extract import classify_blocks, segment_html
from ocrautomator_spark.kernel.markup import extract_mixed, extract_plain
from ocrautomator_spark.kernel.pdf_reflow import reflow_pdf
from ocrautomator_spark.kernel.sniff import sniff
from ocrautomator_spark.kernel.textutil import nfc, normalize_block_text
from ocrautomator_spark.kernel.types import (
    KIND_CODE,
    PK_ERROR,
    PK_HTML,
    PK_MIXED,
    PK_PDF,
    Block,
    ExtractResult,
    Span,
)

# Bump whenever kernel behavior (any threshold, regex, or rule) changes —
# goldens in tests/golden/ are frozen against this version (SURVEY.md §7 M0).
# 0.2.0: per-language stopword sets (en/de/es/fr union + CJK char-level path)
# in the E6 classifier's lean bonus — A/B vs 0.1.2: 0 diffs on the synthetic
# corpus (language-neutral vocab), multilingual prose blocks now kept.
EXTRACTOR_VERSION = "0.2.0"


def _assemble(raw: str, blocks: list[Block]) -> ExtractResult:
    """E8 — concatenate kept blocks, emit validated spans, normalize NFC."""
    texts: list[str] = []
    spans: list[Span] = []
    prev_end = 0
    n = len(raw)
    for b in blocks:
        if b.kind == KIND_CODE:
            t = nfc(b.text).strip("\n").rstrip()
        else:
            t = normalize_block_text(b.text)
        if not t:
            continue
        start = max(min(b.start, n - 1 if n else 0), prev_end)
        end = min(max(b.end, start + 1), n)
        if start >= end:
            continue  # degenerate/overlapping source region: drop span safely
        texts.append(t)
        spans.append(Span(start, end, b.kind))
        prev_end = end
    return ExtractResult("\n\n".join(texts), spans, "")


def extract_one(text: str | None) -> ExtractResult:
    """Extract main content from one raw turn payload. Never raises."""
    if text is None or not isinstance(text, str) or not text.strip():
        return ExtractResult("", [], PK_ERROR if text is None else "plain")
    try:
        kind = sniff(text)
        if kind == PK_HTML:
            blocks = classify_blocks(segment_html(text))
        elif kind == PK_PDF:
            blocks = reflow_pdf(text)
        elif kind == PK_MIXED:
            blocks = extract_mixed(text)
        else:
            blocks = extract_plain(text)
        res = _assemble(text, blocks)
        return ExtractResult(res.extracted_text, res.spans, kind)
    except Exception:  # noqa: BLE001 — A14 failure channel: skip, never crash the batch
        return ExtractResult("", [], PK_ERROR)

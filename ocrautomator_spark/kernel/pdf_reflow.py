"""E7 — layout-aware reflow for PDF-layout text.

The reference renders PDF pages to images and OCRs them (SURVEY.md §2A A3/A6,
MuPDF + Tesseract); here the payload is already layout-damaged text, so the
transform is repair: drop running headers/footers repeated across pages,
de-hyphenate across line breaks, join hard-wrapped lines into paragraphs,
keep paragraph breaks. Pure, deterministic, offset-preserving at block level.
"""

from __future__ import annotations

import re

from ocrautomator_spark.kernel.types import KIND_CONTENT, Block

PAGE_MARKER = re.compile(r"^[ \t]*(?:page\s+\d+(\s+of\s+\d+)?|-\s*\d+\s*-|\d{1,4})[ \t]*$", re.I)
_DIGITS = re.compile(r"\d+")
EDGE_LINES = 2          # lines at top/bottom of a page eligible as header/footer
MIN_REPEATS = 2         # signature must recur on ≥ this many pages to be chrome
_SENT_END = (".", "!", "?", '."', '?"', '!"', ":", ")")


def reflow_pdf(raw: str) -> list[Block]:
    """Return reflowed paragraph blocks with source spans.

    Single tokenize pass: each line is stripped exactly once and carried as
    (start, end, raw_line, stripped); paragraph text is assembled via a
    parts list + one join (the de-hyphenation merge mutates the last part)
    instead of quadratic string concatenation. Behavior identical to the
    original two-pass version (goldens + equality harness)."""
    pages: list[list[tuple[int, int, str, str]]] = []
    pos = 0
    for page in raw.split("\f"):
        lines = []
        for ln in page.split("\n"):
            lines.append((pos, pos + len(ln), ln, ln.strip()))
            pos += len(ln) + 1
        pos = lines[-1][1] + 1 if lines else pos + 1  # account for the \f
        pages.append(lines)

    # running header/footer detection: digit-masked signatures of the first/
    # last EDGE_LINES non-empty lines per page, recurring on ≥ MIN_REPEATS pages
    sig_pages: dict[str, set[int]] = {}
    page_edges: list[set[int]] = []
    edge_sig: dict[tuple[int, int], str] = {}
    for pi, lines in enumerate(pages):
        nonempty = [i for i, ln in enumerate(lines) if ln[3]]
        edges = set(nonempty[:EDGE_LINES]) | set(nonempty[-EDGE_LINES:])
        page_edges.append(edges)
        for i in edges:
            sig = _DIGITS.sub("#", lines[i][3].lower())
            edge_sig[(pi, i)] = sig  # reused by the main loop — one sub+lower per edge line
            sig_pages.setdefault(sig, set()).add(pi)
    chrome_sigs = {s for s, ps in sig_pages.items() if len(ps) >= MIN_REPEATS}

    paragraphs: list[list[tuple[int, int, str, str]]] = []
    cur: list[tuple[int, int, str, str]] = []
    for pi, lines in enumerate(pages):
        edge = page_edges[pi]
        if pi > 0 and cur:
            # page boundary ends the paragraph only after sentence punctuation
            if cur[-1][2].rstrip().endswith(_SENT_END):
                paragraphs.append(cur)
                cur = []
        for i, ln in enumerate(lines):
            stripped = ln[3]
            if not stripped:
                if cur:
                    paragraphs.append(cur)
                    cur = []
                continue
            if i in edge and edge_sig[(pi, i)] in chrome_sigs:
                continue
            # cheap gate: PAGE_MARKER's alternatives all start with p/P, a
            # digit, or '-' (the leading [ \t]* is vacuous on stripped text)
            if (stripped[0] in "pP-" or stripped[0].isdigit()) and PAGE_MARKER.match(stripped):
                continue
            cur.append(ln)
    if cur:
        paragraphs.append(cur)

    blocks: list[Block] = []
    for para in paragraphs:
        parts = [para[0][3]]
        for ln in para[1:]:
            nxt = ln[3]
            prev = parts[-1]
            if prev.endswith("-") and nxt and nxt[0].islower():
                parts[-1] = prev[:-1] + nxt     # de-hyphenate: infor-\nmation
            else:
                parts.append(nxt)
        text = " ".join(parts)
        first_s = para[0][0] + (len(para[0][2]) - len(para[0][2].lstrip()))
        last_e = para[-1][1] - (len(para[-1][2]) - len(para[-1][2].rstrip()))
        blocks.append(
            Block(
                text,
                first_s,
                max(last_e, first_s + 1),
                KIND_CONTENT,
                len(text.split()),
                len(text),
            )
        )
    return blocks

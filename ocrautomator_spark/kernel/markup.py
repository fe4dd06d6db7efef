"""Mixed-markup (markdown + inline HTML) and plain-text block extraction.

Code fences are kept verbatim as kind='code' spans; headings and list items
become typed spans; inline markup (<b>, <a>, **, [text](url), `code`) is
stripped to visible text (FIXTURES.md §A payload class 3/4 expectations).
"""

from __future__ import annotations

import html as _html
import re

from ocrautomator_spark.kernel.types import (
    KIND_CODE,
    KIND_CONTENT,
    KIND_HEADING,
    KIND_LIST,
    Block,
)

_HEADING = re.compile(r"^(#{1,6})\s+(.*)$")
_LIST_ITEM = re.compile(r"^(?:[-*+]|\d+\.)\s+(.*)$")


_TAG = re.compile(r"<[^>]+>")
_IMG = re.compile(r"!\[([^\]]*)\]\([^)]*\)")
_LINK = re.compile(r"\[([^\]]*)\]\([^)]*\)")
_BOLD = re.compile(r"(\*\*|__)(.+?)\1")
_ITAL = re.compile(r"(?<![\w*])([*_])([^*_\n]+?)\1(?![\w*])")
_CODE = re.compile(r"`([^`\n]*)`")


def strip_inline(s: str) -> str:
    """Strip inline HTML tags and markdown emphasis/links to visible text."""
    if "<" in s:
        # a '<' with no '>' after it starts no tag: substitute only up to the
        # last '>', so a tail of unterminated '<' is not rescanned per '<'
        g = s.rfind(">") + 1
        s = _TAG.sub("", s[:g]) + s[g:]
    if "&" in s:
        s = _html.unescape(s)
    if "[" in s:
        s = _IMG.sub(r"\1", s)   # image → alt text
        s = _LINK.sub(r"\1", s)  # link → anchor text
    if "*" in s or "_" in s:
        s = _BOLD.sub(r"\2", s)
        s = _ITAL.sub(r"\2", s)
    if "`" in s:
        s = _CODE.sub(r"\1", s)
    return s


def _mk_block(text: str, start: int, end: int, kind: str) -> Block:
    # positional + fully-initialized: one __init__ call, no attribute stores
    return Block(text, start, max(end, start + 1), kind, len(text.split()), len(text))


def extract_mixed(raw: str) -> list[Block]:
    # lines carry (start, end, raw_line, stripped): strip exactly once
    lines: list[tuple[int, int, str, str]] = []
    pos = 0
    for ln in raw.split("\n"):
        lines.append((pos, pos + len(ln), ln, ln.strip()))
        pos += len(ln) + 1

    blocks: list[Block] = []
    para: list[tuple[int, int, str, str]] = []
    in_fence = False
    fence_lines: list[tuple[int, int, str, str]] = []

    def flush_para() -> None:
        nonlocal para
        if para:
            text = " ".join(strip_inline(p[3]) for p in para).strip()
            if text:
                blocks.append(_mk_block(text, para[0][0], para[-1][1], KIND_CONTENT))
            para = []

    for s, e, ln, stripped in lines:
        if stripped.startswith("```"):
            if in_fence:
                if fence_lines:
                    code = "\n".join(f[2] for f in fence_lines)
                    blocks.append(_mk_block(code, fence_lines[0][0], fence_lines[-1][1], KIND_CODE))
                fence_lines = []
                in_fence = False
            else:
                flush_para()
                in_fence = True
            continue
        if in_fence:
            fence_lines.append((s, e, ln, stripped))
            continue
        if not stripped:
            flush_para()
            continue
        # first-char gates: _HEADING only matches '#', _LIST_ITEM only
        # -,*,+ or a digit — skips two regex calls on ordinary prose lines
        c0 = stripped[0]
        hm = _HEADING.match(stripped) if c0 == "#" else None
        if hm:
            flush_para()
            text = strip_inline(hm[2]).strip()
            if text:
                blocks.append(_mk_block(text, s + (len(ln) - len(ln.lstrip())), e, KIND_HEADING))
            continue
        lm = _LIST_ITEM.match(stripped) if (c0 in "-*+" or c0.isdigit()) else None
        if lm:
            flush_para()
            text = strip_inline(lm[1]).strip()
            if text:
                blocks.append(_mk_block(text, s + (len(ln) - len(ln.lstrip())), e, KIND_LIST))
            continue
        para.append((s, e, ln, stripped))
    if in_fence and fence_lines:  # unterminated fence: keep verbatim
        code = "\n".join(f[2] for f in fence_lines)
        blocks.append(_mk_block(code, fence_lines[0][0], fence_lines[-1][1], KIND_CODE))
    flush_para()
    return blocks


def extract_plain(raw: str) -> list[Block]:
    """Plain text: paragraphs on blank lines, hard wraps joined — ≈ identity."""
    blocks: list[Block] = []
    para: list[tuple[int, int, str]] = []  # (start, end, stripped)
    pos = 0
    for ln in raw.split("\n"):
        s, e = pos, pos + len(ln)
        pos += len(ln) + 1
        stripped = ln.strip()
        if not stripped:
            if para:
                text = " ".join(p[2] for p in para)
                blocks.append(_mk_block(text, para[0][0], para[-1][1], KIND_CONTENT))
                para = []
            continue
        para.append((s, e, stripped))
    if para:
        text = " ".join(p[2] for p in para)
        blocks.append(_mk_block(text, para[0][0], para[-1][1], KIND_CONTENT))
    return blocks

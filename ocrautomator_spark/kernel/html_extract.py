"""E2–E6 — HTML tokenizer, block segmenter, scorer, classifier.

Shallow-text-feature main-content extraction in the Boilerpipe/jusText family
(public literature), per the north_star mandate (BASELINE.json:6): tag-density
scoring, link-text ratio, block-level content classification with neighbor
smoothing. Pure Python, deterministic, total over arbitrary strings; replaces
ocrAutomator's per-document Tesseract call (SURVEY.md §2A A6) as the "core
map" run inside one mapInPandas stage.
"""

from __future__ import annotations

import html as _html
import re

from ocrautomator_spark.kernel.textutil import stopword_ratio, word_count
from ocrautomator_spark.kernel.types import (
    KIND_CODE,
    KIND_CONTENT,
    KIND_HEADING,
    KIND_LIST,
    Block,
)

# ---- classifier thresholds (frozen named constants; bump EXTRACTOR_VERSION
# in extractor.py whenever any of these change — SURVEY.md §7 M0) ----
MAX_LINK_RATIO = 0.40          # above ⇒ boilerplate regardless of length
GOOD_WORDS = 10                # at/above with low link ratio ⇒ content
GOOD_LINK_RATIO = 0.30         # "low link ratio" bound for the rule above
MIN_WORDS = 3                  # below ⇒ boilerplate (unless heading/code)
CHROME_RESCUE_WORDS = 20       # block inside nav/footer/aside/header needs this
CHROME_RESCUE_LINK_RATIO = 0.20
STOPWORD_BONUS = 0.30          # stopword ratio ≥ this lets a 'near' block lean content
HEADING_LOOKAHEAD = 3          # heading kept if content within next N blocks

BLOCK_TAGS = frozenset(
    "p div ul ol li h1 h2 h3 h4 h5 h6 table thead tbody tr td th blockquote pre "
    "article section nav aside header footer main form fieldset dl dt dd hr "
    "figure figcaption address title".split()
)
SKIP_TAGS = frozenset("script style noscript head svg template iframe".split())
CHROME_TAGS = frozenset("nav aside footer header".split())
TABLE_STRUCTURE_TAGS = frozenset("thead tbody tfoot tr td th caption colgroup col".split())
VOID_TAGS = frozenset("br img hr input meta link area base col embed source track wbr".split())
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6 title".split())

# Single-pass tokenizer regex (kept as the REFERENCE tokenization the r7
# split-based loop must reproduce, and used by A/B tests): group 1 captures
# a well-formed tag's name, group 2 a text run; the named-tag alternative
# and the generic <[^>]*> both stop at the first '>'.
_TOKEN_FAST = re.compile(
    r"<!--.*?(?:-->|$)|<!\[CDATA\[.*?(?:\]\]>|$)|"
    r"</?\s*([a-zA-Z][a-zA-Z0-9-]*)[^>]*>|<[^>]*>|([^<]+)",
    re.S,
)

# r7 split-based tokenizer: anchored name parse over a tag BODY (the text
# between '<' and the first '>'), replicating _TOKEN_FAST's named-tag
# alternative exactly — '/?' then optional whitespace then the name.
_NAME = re.compile(r"/?\s*([a-zA-Z][a-zA-Z0-9-]*)")

# Bounded memo: tag body -> (name, closing, selfclosing), or None for a
# nameless/generic tag. A pure function of the body string; closing is
# body[0]=='/', selfclosing is body[-1]=='/' or a void name — both facts
# the regex loop derived per token from raw offsets. Real markup repeats
# tag bodies massively ('/p', 'li', 'div class="nav"'), so the common case
# becomes one dict hit instead of a regex match + lower + two char tests.
_TAG_MEMO: dict[str, tuple[str, bool, bool] | None] = {}
_TAG_MEMO_CAP = 100_000


def _parse_tag(body: str) -> tuple[str, bool, bool] | None:
    m = _NAME.match(body)
    if m is None:
        out = None
    else:
        name = m[1]
        if not name.islower():
            name = name.lower()
        out = (name, body[0] == "/", body[-1] == "/" or name in VOID_TAGS)
    if len(_TAG_MEMO) >= _TAG_MEMO_CAP:
        _TAG_MEMO.clear()
    _TAG_MEMO[body] = out
    return out


# Bounded memo for the (unescape + whitespace-collapse) normalization of
# text-run tokens OUTSIDE <pre>. Web corpora repeat boilerplate runs
# massively (nav labels, footer strings — this corpus measures 4.2 tokens
# per distinct run, real crawls are far more repetitive), so the common case
# becomes one dict hit. The transformation is a pure function of the token,
# so caching cannot change behavior; the cap bounds executor memory on
# adversarial all-distinct input, trading hit rate, never correctness.
_RUN_MEMO: dict[str, str] = {}
_RUN_MEMO_CAP = 200_000

# Bounded memo for flush()'s text-derived values. Block texts repeat heavily
# (this corpus: 3.0 blocks per distinct text; the five nav labels alone are
# 38% of all blocks), and (lead, trail, n_chars, n_words) are pure functions
# of the joined text — strip/find/split run once per DISTINCT text, repeats
# pay one dict hit. None marks a whitespace-only text (block dropped).
# Only texts of at most _BLK_MEMO_MAX_CHARS are kept, so the entry cap also
# bounds bytes: the repeats are short labels, while long paragraphs are
# almost never repeated and would pin memory on all-distinct input.
_BLK_MEMO: dict[str, tuple[int, int, int, int] | None] = {}
_BLK_MEMO_CAP = 200_000
_BLK_MEMO_MAX_CHARS = 256
_BLK_MISS = object()  # memo-miss sentinel (None is a valid memo value)


def segment_html(raw: str) -> list[Block]:
    """Tokenize raw HTML and group text runs into scored candidate blocks.

    This is the kernel's hottest loop (≈60% of per-turn time at 10^12-turn
    scale), so it is written allocation-lean: block state lives in closure
    locals rather than an object, the parts list is reused across blocks
    (bound ``append``), and source spans are tracked as four scalars — only
    the FIRST and LAST part spans ever matter to the flush trim — instead of
    a tuple per text part. Behavior is bit-identical to the original
    object-based segmenter (pinned by goldens + the distributed equality
    harness).
    """
    blocks: list[Block] = []
    blocks_append = blocks.append
    parts: list[str] = []
    parts_append = parts.append
    parts_clear = parts.clear
    n_link_chars = 0
    n_inline_tags = 0
    kind = KIND_CONTENT
    kind_set = False
    in_chrome = False
    n_spans = 0
    first_start = first_end = last_start = last_end = 0

    def flush() -> None:
        nonlocal n_link_chars, n_inline_tags, kind, kind_set, in_chrome, n_spans
        # callers gate on `parts` non-empty; empty-state reset is inlined there
        text = "".join(parts)
        info = blk_memo_get(text, _BLK_MISS)
        if info is _BLK_MISS:
            stripped = text.strip()
            if stripped:
                # trim offsets to the non-whitespace extent of the block;
                # leading/trailing ws may live entirely in first/last part —
                # the adjustment is approximate only when entities shift
                # lengths, which never moves offsets outside the true source
                # region. (the stripped block's first occurrence in text IS
                # at the lead offset — one C find instead of lstrip+rstrip
                # allocations)
                lead = text.find(stripped)
                n_chars = len(stripped)
                info = (lead, len(text) - lead - n_chars, n_chars, len(stripped.split()))
            else:
                info = None
            if len(text) <= _BLK_MEMO_MAX_CHARS:
                if len(_BLK_MEMO) >= _BLK_MEMO_CAP:
                    _BLK_MEMO.clear()
                _BLK_MEMO[text] = info
        if info is not None:
            lead, trail, n_chars, n_words = info
            start = first_start
            end = last_end
            # inline conditional min/max: these four clamps run ~6 times per
            # document and builtins.min/max were ~4% of kernel tottime
            fl = first_end - first_start - 1
            if fl < 0:
                fl = 0
            if fl > lead:
                fl = lead
            start += fl
            ll = last_end - last_start - 1
            if ll < 0:
                ll = 0
            if ll > trail:
                ll = trail
            end -= ll
            if start >= end:  # degenerate after trimming; fall back
                start, end = first_start, last_end
            # positional construction: the generated dataclass __init__ binds
            # 9 keyword args per call and this is the kernel's hottest
            # allocation site (~1M calls per 100k turns)
            blocks_append(
                Block(
                    text,
                    start,
                    end,
                    kind,
                    n_words,
                    n_chars,
                    n_link_chars if n_link_chars < n_chars else n_chars,
                    n_inline_tags,
                    "chrome" if in_chrome else "",
                )
            )
        parts_clear()
        n_spans = 0
        n_link_chars = 0
        n_inline_tags = 0
        kind = KIND_CONTENT
        kind_set = False
        in_chrome = False

    skip_depth = 0
    a_depth = 0
    pre_depth = 0
    heading_depth = 0
    li_depth = 0
    chrome_depth = 0
    table_depth = 0

    # r7 split-based token loop: raw.split('<') hands every token boundary
    # to C code, so the Python loop touches one PIECE (tag body + trailing
    # text run) per iteration instead of one regex Match per token — no
    # match objects, no group fetches, no .start()/.end() calls. Token
    # extents and dispatch replicate _TOKEN_FAST exactly (A/B'd
    # bit-identical over the corpus + adversarial fragments + 3k random
    # mutations, tests/test_html_tokenizer_ab.py), including the corner
    # cases: a tag token runs to the FIRST '>' even across later '<'s, a
    # '<' with no '>' anywhere later is skipped and its remainder is a text
    # run, comments/CDATA consume '<'s until their end marker.
    tag_memo_get = _TAG_MEMO.get
    run_memo_get = _RUN_MEMO.get
    blk_memo_get = _BLK_MEMO.get
    pieces = raw.split("<")
    npieces = len(pieces)
    next_gt = None

    i = 0
    p = pieces[0]
    pstart = 0          # abs offset of the current piece's content
    toff = 0            # offset within p where the trailing text run starts
    has_tag = False     # piece 0 carries no tag part
    name = ""
    closing = selfclosing = False
    while True:
        # ---- tag action (resolved by the dispatcher at the bottom) ----
        if has_tag:
            if name in SKIP_TAGS:
                if selfclosing:
                    pass
                elif closing:
                    if skip_depth:
                        skip_depth -= 1
                else:
                    skip_depth += 1
            elif skip_depth:
                pass
            elif table_depth and name in TABLE_STRUCTURE_TAGS:
                # inside a <table>, structural tags are cell/row separators,
                # not block boundaries: the whole table becomes ONE candidate
                # block (a data table in a turn payload is content; a
                # link-farm layout table still dies on link ratio)
                if parts:
                    if closing and name == "tr":
                        parts_append("\n")
                    elif closing or name in ("td", "th"):
                        parts_append(" ")
            elif name in BLOCK_TAGS:
                if parts:
                    flush()
                elif n_inline_tags or kind_set:
                    # inlined empty-block reset (the old flush fast path)
                    n_inline_tags = 0
                    n_link_chars = 0
                    kind = KIND_CONTENT
                    kind_set = False
                    in_chrome = False
                if not selfclosing:
                    d = -1 if closing else 1
                    if name in CHROME_TAGS:
                        chrome_depth = chrome_depth + d if chrome_depth + d > 0 else 0
                    elif name == "pre":
                        pre_depth = pre_depth + d if pre_depth + d > 0 else 0
                    elif name in HEADING_TAGS:
                        heading_depth = heading_depth + d if heading_depth + d > 0 else 0
                    elif name == "li":
                        li_depth = li_depth + d if li_depth + d > 0 else 0
                    elif name == "table":
                        table_depth = table_depth + d if table_depth + d > 0 else 0
            else:
                if name == "a" and not selfclosing:
                    if closing:
                        if a_depth:
                            a_depth -= 1
                    else:
                        a_depth += 1
                if name == "br":
                    parts_append("\n" if pre_depth else " ")
                    if n_spans:
                        # extends the LAST part span; when only one span
                        # exists the last span IS the first, so both move
                        last_end = pstart + toff  # abs end of the <br> token
                        if n_spans == 1:
                            first_end = last_end
                elif not closing:
                    n_inline_tags += 1

        # ---- text run: p[toff:] ----
        if toff < len(p) and not skip_depth:
            tok = p[toff:] if toff else p
            if pre_depth == 0:
                text = run_memo_get(tok)
                if text is None:
                    text = _html.unescape(tok) if "&" in tok else tok
                    # C-level equivalent of re.sub(r"\s+", " ", text): collapse
                    # all (unicode) whitespace runs to single spaces,
                    # preserving one-space boundaries at the ends
                    mid = " ".join(text.split())
                    if mid:
                        if text[0].isspace():
                            mid = " " + mid
                        if text[-1].isspace():
                            mid += " "
                        text = mid
                    elif text:
                        text = " "
                    if len(_RUN_MEMO) >= _RUN_MEMO_CAP:
                        _RUN_MEMO.clear()
                    _RUN_MEMO[tok] = text
            else:
                text = _html.unescape(tok) if "&" in tok else tok
            if text:
                if not kind_set and not text.isspace():
                    if pre_depth:
                        kind = KIND_CODE
                    elif heading_depth:
                        kind = KIND_HEADING
                    elif li_depth or table_depth:
                        kind = KIND_LIST
                    kind_set = True
                    in_chrome = chrome_depth > 0
                parts_append(text)
                ts = pstart + toff
                te = pstart + len(p)
                if n_spans:
                    last_start, last_end = ts, te
                    n_spans += 1
                else:
                    first_start, first_end = last_start, last_end = ts, te
                    n_spans = 1
                if a_depth > 0:
                    n_link_chars += len(text.strip())

        # ---- advance to the next piece and resolve its tag part ----
        i += 1
        if i >= npieces:
            break
        lt = pstart + len(p)       # abs position of the '<' opening piece i
        p = pieces[i]
        pstart = lt + 1
        has_tag = True
        # comment / CDATA (checked before the tag forms, like the regex)
        if p[0:1] == "!" and (p.startswith("!--") or p.startswith("![CDATA[")):
            endmark, off = ("-->", 3) if p[1] == "-" else ("]]>", 8)
            k = p.find(endmark, off)
            while k < 0:
                i += 1
                if i >= npieces:
                    break
                pstart += len(p) + 1
                p = pieces[i]
                k = p.find(endmark)
            if k < 0:
                break  # unterminated comment/CDATA: consumes to EOS
            toff = k + 3  # both end markers are 3 chars
            has_tag = False  # comments carry no tag action
            continue
        g = p.find(">")
        if g >= 0:
            body = p[:g]
            toff = g + 1
            if body:
                r = tag_memo_get(body, False)
                if r is False:
                    r = _parse_tag(body)
                if r is None:
                    has_tag = False
                else:
                    name, closing, selfclosing = r
            else:
                has_tag = False  # '<>' — generic, ignored
            continue
        # no '>' in this piece: the tag token extends to the first '>' in a
        # LATER piece ([^>]* crosses '<'), or there is no tag at all.
        # next_gt[k] is the first piece after k holding a '>' (-1: none),
        # built by one reverse pass the first time a piece lacks a '>', so a
        # run of unterminated '<' costs linear time and well-formed markup
        # never builds it
        if next_gt is None:
            next_gt = [-1] * npieces
            nxt = -1
            for k in range(npieces - 1, -1, -1):
                next_gt[k] = nxt
                if ">" in pieces[k]:
                    nxt = k
        j = next_gt[i]
        if j < 0:
            # no '>' anywhere later: the '<' is skipped (no token alternative
            # matches it), this piece is a bare text run, and every later
            # piece will take this same path
            has_tag = False
            toff = 0
            continue
        pjstart = pstart
        for k in range(i, j):
            pjstart += len(pieces[k]) + 1
        pj = pieces[j]
        g = pj.find(">")
        # tag token spans pieces[i..j]; name/closing parse from the first
        # segment (name chars cannot cross a '<'), selfclosing from the
        # char right before the terminating '>'
        m = _NAME.match(p)
        if m is None:
            has_tag = False
        else:
            name = m[1]
            if not name.islower():
                name = name.lower()
            closing = p[0] == "/"
            prev = pj[g - 1] if g > 0 else "<"
            selfclosing = prev == "/" or name in VOID_TAGS
        i = j
        p = pj
        pstart = pjstart
        toff = g + 1
        continue

    if parts:
        flush()
    return blocks


def link_ratio(b: Block) -> float:
    """E5 — chars inside <a> ÷ total chars of the block."""
    return b.n_link_chars / b.n_chars if b.n_chars else 0.0


def tag_density(b: Block) -> float:
    """E4 — inline tags ÷ (inline tags + words)."""
    denom = b.n_inline_tags + b.n_words
    return b.n_inline_tags / denom if denom else 0.0


def classify_blocks(blocks: list[Block]) -> list[Block]:
    """E6 — label each block content/boilerplate with neighbor smoothing;
    return kept blocks in document order."""
    for b in blocks:
        chrome = b.label == "chrome"
        lr = link_ratio(b)
        if b.kind == KIND_CODE:
            b.label = "content" if b.n_chars > 0 else "boilerplate"
        elif b.kind == KIND_HEADING:
            b.label = "near" if (b.n_words >= 1 and lr <= MAX_LINK_RATIO and not chrome) else "boilerplate"
        elif chrome and not (b.n_words >= CHROME_RESCUE_WORDS and lr < CHROME_RESCUE_LINK_RATIO):
            b.label = "boilerplate"
        elif lr > MAX_LINK_RATIO:
            b.label = "boilerplate"
        elif b.n_words >= GOOD_WORDS and lr <= GOOD_LINK_RATIO:
            b.label = "content"
        elif b.n_words < MIN_WORDS:
            b.label = "boilerplate"
        else:
            b.label = "near"
            if stopword_ratio(b.text) >= STOPWORD_BONUS and lr <= GOOD_LINK_RATIO:
                b.label = "lean"  # near, leaning content

    # neighbor smoothing: a near block adjacent (ignoring headings) to a
    # content block on either side becomes content; 'lean' needs one side,
    # plain 'near' needs a content neighbor too but not between two boiler.
    body = [b for b in blocks if b.kind != KIND_HEADING]

    def _neighbor_content(i: int, direction: int) -> bool:
        j = i + direction
        while 0 <= j < len(body):
            if body[j].label == "content":
                return True
            if body[j].label == "boilerplate":
                return False
            j += direction
        return False

    was_near: list[Block] = []
    for i, b in enumerate(body):
        if b.label in ("near", "lean"):
            was_near.append(b)
            if _neighbor_content(i, -1) or _neighbor_content(i, +1):
                b.label = "content"
            elif b.label == "lean" and b.n_words >= MIN_WORDS:
                b.label = "content"
            else:
                b.label = "boilerplate"

    # transcript-domain rescue: a webpage with ONLY short blocks is chrome,
    # but a turn payload whose every block is short IS the message — if
    # nothing survived, keep the plausible near blocks rather than nothing
    if not any(b.label == "content" for b in body):
        for b in was_near:
            if b.n_words >= MIN_WORDS and link_ratio(b) <= GOOD_LINK_RATIO:
                b.label = "content"

    # headings survive only when content follows within HEADING_LOOKAHEAD
    for i, b in enumerate(blocks):
        if b.kind == KIND_HEADING and b.label == "near":
            window = blocks[i + 1 : i + 1 + HEADING_LOOKAHEAD]
            b.label = "content" if any(x.label == "content" for x in window) else "boilerplate"

    return [b for b in blocks if b.label == "content"]

"""Unit tests for the pure extraction kernel (SURVEY.md §5.1, operators E1–E8).

Hand-written fixtures: HTML with nav/footer/sidebar boilerplate, hyphen-wrapped
PDF-layout text, markdown-in-HTML mixtures, adversarial empties/unicode.
No Spark needed.
"""

from __future__ import annotations

from ocrautomator_spark.kernel import extract_one
from ocrautomator_spark.kernel.html_extract import classify_blocks, link_ratio, segment_html, tag_density
from ocrautomator_spark.kernel.pdf_reflow import reflow_pdf
from ocrautomator_spark.kernel.sniff import sniff

HTML_PAGE = """<html><head><title>The Quarterly Harbor Review</title>
<style>body { color: red }</style><script>var x = 1;</script></head><body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/about">About</a></li>
<li><a href="/blog">Blog</a></li></ul></nav>
<h1>Harbor traffic grew steadily</h1>
<div class="main">
<p>The harbor saw a steady increase in traffic over the last four quarters,
with container volume rising in every month of the reporting period.</p>
<p>Officials attribute the growth to the new inlet channel, which allows
larger vessels to dock at the eastern wharf without waiting for high tide.</p>
</div>
<div class="sidebar"><a href="/a">Related story</a><br/><a href="/b">More links</a><br/>
<a href="/c">Even more</a></div>
<footer><p>Copyright 2025 Harbor Inc. <a href="/terms">Terms</a> <a href="/privacy">Privacy</a></p></footer>
</body></html>"""


def test_sniff_classes():
    assert sniff(HTML_PAGE) == "html"
    assert sniff("# Title\n\n- item one here\n- item two here\n") == "mixed_markup"
    assert sniff("Some text here.\fMore text.\nPage 1 of 2") == "pdf_layout"
    assert sniff("Just a normal sentence here.") == "plain"
    assert sniff("") == "plain"
    assert sniff("   \n\t ") == "plain"


def test_html_strips_boilerplate_keeps_content():
    r = extract_one(HTML_PAGE)
    assert r.payload_kind == "html"
    assert "steady increase in traffic" in r.extracted_text
    assert "new inlet channel" in r.extracted_text
    # boilerplate must be gone
    for bad in ("Home", "About", "Related story", "Copyright", "Terms", "var x"):
        assert bad not in r.extracted_text, bad
    # heading kept, typed
    assert "Harbor traffic grew steadily" in r.extracted_text
    kinds = [s.kind for s in r.spans]
    assert kinds[0] == "heading"
    assert kinds.count("content") == 2


def test_html_entities_decoded():
    page = "<html><body><p>Fish &amp; chips cost &pound;5 for the whole crew tonight.</p><p>" + "word " * 12 + "</p></body></html>"
    r = extract_one(page)
    assert "Fish & chips cost £5" in r.extracted_text


def test_html_scoring_primitives():
    blocks = segment_html('<div><p><a href="/x">all link text here</a></p><p>plain words only in this one</p></div>')
    assert len(blocks) == 2
    assert link_ratio(blocks[0]) > 0.9
    assert link_ratio(blocks[1]) == 0.0
    assert tag_density(blocks[0]) > 0.0


def test_html_near_block_smoothing():
    # a short block sandwiched between two long content blocks is rescued
    long_p = "<p>" + "genuine content words appear here repeatedly now " * 3 + "</p>"
    page = f"<html><body>{long_p}<p>short middle bit</p>{long_p}</body></html>"
    r = extract_one(page)
    assert "short middle bit" in r.extracted_text


PDF_PAGE = (
    "Annual Dune Survey\n"
    "\n"
    "The prevailing wind moved the crest of the largest dune some four-\n"
    "teen meters to the east, a displacement consistent with the long-term\n"
    "average recorded since the survey began.\n"
    "\n"
    "Page 1 of 2"
    "\f"
    "Annual Dune Survey\n"
    "\n"
    "Vegetation cover on the windward slope increased modestly, which the\n"
    "team attributes to the wetter than usual spring season.\n"
    "\n"
    "Page 2 of 2"
)


def test_pdf_reflow_dehyphenate_and_chrome():
    r = extract_one(PDF_PAGE)
    assert r.payload_kind == "pdf_layout"
    assert "fourteen meters" in r.extracted_text          # de-hyphenated
    assert "crest of the largest dune some fourteen" in r.extracted_text  # line join
    assert "Page 1 of 2" not in r.extracted_text           # footer dropped
    assert "Annual Dune Survey" not in r.extracted_text    # repeated header dropped
    assert len(r.spans) == 2                               # two paragraphs


def test_pdf_paragraph_continues_across_page_break():
    raw = (
        "Header Line X\n\nThe first part of a sentence that continues over-\n"
        "Page 1 of 2\fHeader Line X\nleaf onto the following page without a break.\n\nPage 2 of 2"
    )
    blocks = reflow_pdf(raw)
    joined = " ".join(b.text for b in blocks)
    assert "overleaf onto the following page" in joined


MIXED = """# Results summary

The run completed in **four** minutes with <b>zero</b> failures, see the
[dashboard](https://example.com/dash) for details.

- first finding is stable
- second finding regressed

```
x = compute(1)
y = x + 2
```

Final paragraph closes the report."""


def test_mixed_markup():
    r = extract_one(MIXED)
    assert r.payload_kind == "mixed_markup"
    assert "Results summary" in r.extracted_text
    assert "**" not in r.extracted_text and "<b>" not in r.extracted_text
    assert "dashboard for details" in r.extracted_text
    assert "https://example.com" not in r.extracted_text
    # code fence kept verbatim, typed
    code_spans = [s for s in r.spans if s.kind == "code"]
    assert len(code_spans) == 1
    assert "x = compute(1)\ny = x + 2" in r.extracted_text
    assert [s.kind for s in r.spans].count("list") == 2
    assert r.spans == sorted(r.spans, key=lambda s: s.start)


def test_plain_identity_ish():
    raw = "One simple paragraph.\n\nAnd a second one."
    r = extract_one(raw)
    assert r.extracted_text == "One simple paragraph.\n\nAnd a second one."
    assert r.payload_kind == "plain"
    assert [(s.start, s.end) for s in r.spans] == [(0, 21), (23, 40)]


def test_adversarial_inputs_never_raise():
    cases = [
        None, "", " ", "<", "<<<>>>", "<html>", "</p></p></p>", "\f\f\f",
        "<a href='x'>", "&#xFFFF;&amp;&bogus;", "a" * 100_000,
        "<p>" * 1000, "ünïcødé ☃ ​ text", "```\nunterminated fence",
        "<script>alert(1)", "\x00\x01binary\xff-ish",
    ]
    for c in cases:
        r = extract_one(c)
        raw = c or ""
        for s in r.spans:
            assert 0 <= s.start < s.end <= len(raw)


def test_span_validity_on_synth_corpus():
    from ocrautomator_spark.synth.transcripts import gen_conversation

    for i in range(30):
        for row in gen_conversation(i):
            r = extract_one(row["text"])
            prev_end = 0
            for s in r.spans:
                assert 0 <= s.start < s.end <= len(row["text"])
                assert s.start >= prev_end, "spans overlap or out of order"
                prev_end = s.end
            assert r.extracted_text.strip() or not r.spans


DATA_TABLE = """<html><body>
<p>The quarterly figures are summarized in the table below for every region
that reported complete data during the period.</p>
<table>
<tr><th>Region</th><th>Volume</th><th>Change</th></tr>
<tr><td>North harbor</td><td>1240</td><td>up twelve percent</td></tr>
<tr><td>South basin</td><td>987</td><td>down three percent</td></tr>
</table>
</body></html>"""


def test_data_table_kept_as_single_list_block():
    r = extract_one(DATA_TABLE)
    assert r.payload_kind == "html"
    table_spans = [s for s in r.spans if s.kind == "list"]
    assert len(table_spans) == 1, "a data table should be one aggregated block"
    assert "North harbor" in r.extracted_text and "987" in r.extracted_text
    assert "up twelve percent" in r.extracted_text


def test_link_farm_table_dropped():
    rows = "".join(
        f'<tr><td><a href="/{i}">Link {i}</a></td><td><a href="/x{i}">More {i}</a></td></tr>'
        for i in range(6)
    )
    page = (
        "<html><body><p>Genuine paragraph content with plenty of real words to"
        " keep around for the reader of this page today.</p>"
        f"<table>{rows}</table></body></html>"
    )
    r = extract_one(page)
    assert "Genuine paragraph content" in r.extracted_text
    assert "Link 0" not in r.extracted_text, "layout/link table must be dropped"


def test_blockquote_is_content():
    page = (
        "<html><body><p>Introductory sentence with several real words in it for"
        " context here.</p><blockquote>The quoted passage carries the actual"
        " meaning and must survive extraction intact.</blockquote></body></html>"
    )
    r = extract_one(page)
    assert "quoted passage carries the actual meaning" in r.extracted_text


def test_multilang_stopword_bonus_keeps_nonenglish_near_blocks():
    """Kernel 0.2.0: the E6 lean bonus uses the multi-language function-word
    union, so a short German/Spanish/French prose block (3–9 words, no content
    neighbor) survives the way an equivalent English one always did. The
    link-farm between the anchor paragraph and the short block forces the
    decision through the stopword path, not neighbor smoothing."""
    farm = "".join(f"<a href='/l{i}'>Nav {i}</a> " for i in range(8))
    for short in (
        "Die Antwort ist in der Datei",          # de: 4/6 function words
        "La respuesta es que el sistema funciona",  # es
        "La réponse est dans le fichier du projet",  # fr
    ):
        page = (
            "<html><body><p>The long anchor paragraph holds enough genuine "
            "English words to be classified as content on its own.</p>"
            f"<div>{farm}</div><p>{short}</p></body></html>"
        )
        r = extract_one(page)
        assert short in r.extracted_text, f"multilingual near block dropped: {short!r}"
        assert "Nav 0" not in r.extracted_text


def test_cjk_char_level_stopword_path():
    """Pure-CJK prose has no spaces, so the word-level ratio is blind; the
    char-level path over CJK function characters supplies the lean signal for
    phrase-spaced Chinese blocks."""
    from ocrautomator_spark.kernel.textutil import stopword_ratio

    zh = "系统在线 用户的请求 延迟是正常的 服务器在运行 一切都很好"
    assert stopword_ratio(zh) >= 0.3, stopword_ratio(zh)
    # and a language-neutral token soup stays below the bonus threshold
    assert stopword_ratio("alpha bravo charlie delta echo foxtrot") == 0.0


def test_block_memo_keeps_short_texts_only():
    """The block-text memo bounds bytes, not just entries: a long distinct
    paragraph is not kept, a short repeated label is, and both segment the
    same with or without the memo."""
    from ocrautomator_spark.kernel import html_extract as hx

    long_text = " ".join(f"distinctword{i}" for i in range(60))
    assert len(long_text) > hx._BLK_MEMO_MAX_CHARS
    short_text = "Home and About"
    page = f"<html><body><p>{long_text}</p><div>{short_text}</div></body></html>"
    hx._BLK_MEMO.clear()
    first = segment_html(page)
    assert long_text not in hx._BLK_MEMO
    assert short_text in hx._BLK_MEMO
    assert [b.text for b in first] == [long_text, short_text]
    assert segment_html(page) == first

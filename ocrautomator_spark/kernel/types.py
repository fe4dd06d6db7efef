"""Core kernel datatypes.

``Span`` offsets index into the RAW payload string (char offsets), so a span
is a provenance pointer from extracted content back to its source region —
the columnar analogue of ocrAutomator writing OCR text back into the source
image's EXIF block (SURVEY.md §2A A9: enrichment travels WITH the record,
never mutates the source).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

# span kinds (normative, SURVEY.md §1.2)
KIND_CONTENT = "content"
KIND_HEADING = "heading"
KIND_CODE = "code"
KIND_LIST = "list"

# payload kinds (E1 sniffer output)
PK_HTML = "html"
PK_PDF = "pdf_layout"
PK_MIXED = "mixed_markup"
PK_PLAIN = "plain"
PK_ERROR = "error"


class Span(NamedTuple):
    start: int
    end: int
    kind: str


class ExtractResult(NamedTuple):
    extracted_text: str
    spans: list[Span]
    payload_kind: str


@dataclass(slots=True)
class Block:
    """A candidate content block: contiguous text with source offsets.

    ``text`` is the already-decoded visible text; ``start``/``end`` bound the
    source region in the raw payload; scoring fields are filled by E4–E6.
    """

    # Field order is load-bearing: the kernel builds blocks positionally
    # (html_extract.segment_html, markup.py, pdf_reflow.py), so reordering or
    # inserting a field silently shifts values into the wrong slots.
    text: str
    start: int
    end: int
    kind: str = KIND_CONTENT
    n_words: int = 0
    n_chars: int = 0
    n_link_chars: int = 0
    n_inline_tags: int = 0
    label: str = ""  # content | boilerplate | near (E6 intermediate)
    # NOTE: no per-block scratch fields — this object is allocated once per
    # candidate block in the kernel's hottest loop; a defaulted list field
    # here costs one allocation per block (removed in r4, dead since the r2
    # closure rewrite moved part accumulation into segment_html locals)

"""Kernel time must grow linearly in the payload, adversarial payloads too.

Each family below is markup that a truncated page or code full of `<`
comparisons produces, and that a regex or a scan-ahead loop can turn
quadratic: unterminated `<` runs (no `>` anywhere after them), open tags
that never close, and comment openers without an end marker; plus two long
single lines that ``extract_batches`` extracts in Arrow compute instead of
the kernel: one of mixed whitespace runs (its whitespace rewrite) and one
of single-spaced words (no run to collapse, so the rewrite is skipped). Every kernel entry point, and
``extract_batches`` on a one-row batch, must take at most 6x as long on
80 KB as on 20 KB of the same family (linear is 4x). Times are the best of several runs with the cyclic
garbage collector off, as ``timeit`` does: a full collection walks the
whole process heap, which in a long test run holds far more than the
kernel allocates, so its cost is not the kernel's. A 1 ms floor under the
20 KB time keeps microsecond calls from turning timer noise into a
failure; a quadratic path takes far longer than 6 ms at 80 KB. A ratio over
6x is measured again, up to three times in all: a busy spell on a shared
machine can slow every 80 KB run of one measurement, while a quadratic
path (16x) fails all three.
"""

from __future__ import annotations

import gc
import time

import pyarrow as pa
import pytest

from ocrautomator_spark.kernel.extractor import extract_one
from ocrautomator_spark.kernel.html_extract import segment_html
from ocrautomator_spark.kernel.markup import extract_mixed, extract_plain, strip_inline
from ocrautomator_spark.kernel.pdf_reflow import reflow_pdf
from ocrautomator_spark.kernel.sniff import sniff
from ocrautomator_spark.spark.extract_job import extract_batches

FAMILIES = {
    "lt_b": lambda n: "<html><body><p>x</p>" + "<b" * (n // 2),
    "lt": lambda n: "<p>x</p>" + "<" * n,
    "lt_space": lambda n: "< " * (n // 2),
    "open_a": lambda n: ("<p>" + "<a " * (n // 12)) * 4,
    "comment": lambda n: "<!--" * (n // 4),
    "lt_lines": lambda n: "x <b\n" * (n // 5),
    "ws_run": lambda n: "a" + " \t\x0b\r" * (n // 4) + "b",
    "one_line": lambda n: " ".join(["ab"] * (n // 3)),
}


def extract_batches_row(s: str) -> None:
    """``extract_batches`` on a one-row batch: its Arrow path takes
    single-line ASCII plain rows, ``extract_one`` the rest."""
    for _ in extract_batches(iter([pa.RecordBatch.from_pydict({"text": pa.array([s], pa.string())})])):
        pass


ENTRY_POINTS = [
    sniff, segment_html, strip_inline, extract_mixed, extract_plain, reflow_pdf, extract_one, extract_batches_row,
]


def _best_s(fn, small: str, large: str, reps: int = 7) -> tuple[float, float]:
    """Best time of ``fn`` on each input, the two timed in alternation so
    that a busy spell on the machine slows both sizes alike."""
    best = [float("inf"), float("inf")]
    gc.disable()
    try:
        for _ in range(reps):
            for k, s in enumerate((small, large)):
                t = time.perf_counter()
                fn(s)
                best[k] = min(best[k], time.perf_counter() - t)
    finally:
        gc.enable()
    return best[0], best[1]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_kernel_is_linear_on_adversarial_markup(family):
    make = FAMILIES[family]
    small, large = make(20_000), make(80_000)
    for fn in ENTRY_POINTS:
        for _ in range(3):
            t_small, t_large = _best_s(fn, small, large)
            if t_large <= 6 * max(t_small, 1e-3):
                break
        assert t_large <= 6 * max(t_small, 1e-3), (
            f"{fn.__name__} on {family}: {t_small * 1e3:.2f} ms at 20 KB, "
            f"{t_large * 1e3:.2f} ms at 80 KB"
        )

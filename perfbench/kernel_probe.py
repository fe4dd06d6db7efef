"""In-process timings of the extraction kernel and of ``extract_batches``.

Runs in the benchmark process on a seeded sample of the workload's
payloads, with Spark out of the way, so the numbers are the kernel's own
cost per turn: the UDF body, apart from the Spark plumbing around it.
"""

from __future__ import annotations

import random
import statistics
import time

import pyarrow as pa

from ocrautomator_spark.kernel.extractor import extract_one
from ocrautomator_spark.kernel.html_extract import classify_blocks, segment_html
from ocrautomator_spark.kernel.markup import extract_mixed, extract_plain
from ocrautomator_spark.kernel.pdf_reflow import reflow_pdf
from ocrautomator_spark.kernel.sniff import sniff
from ocrautomator_spark.kernel.types import PK_HTML, PK_MIXED, PK_PDF, PK_PLAIN
from ocrautomator_spark.spark.extract_job import extract_batches
from ocrautomator_spark.spark.session import ARROW_BATCH_ROWS
from perfbench.stats import percentile, tail

PER_KIND = 400      # stratified sample size per payload kind
UNIFORM = 2000      # uniform sample size, for the extract_one distribution
PASSES = 3          # each per-turn cost is the median of this many passes


def _us_per_item(fn, items: list) -> float:
    if not items:
        return 0.0
    walls = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / len(items) * 1e6


def sample(table: pa.Table, seed: int) -> tuple[pa.Table, dict[str, list[str]]]:
    """A seeded uniform sample of ``table``'s rows, and up to ``PER_KIND``
    payloads of each sniffed kind."""
    rng = random.Random(f"kernel-sample|{seed}")
    n = table.num_rows
    uniform = table.take(sorted(rng.sample(range(n), min(UNIFORM, n))))
    texts = table.column("text").to_pylist()
    order = list(range(n))
    rng.shuffle(order)
    by_kind: dict[str, list[str]] = {k: [] for k in (PK_HTML, PK_PDF, PK_MIXED, PK_PLAIN)}
    for i in order:
        bucket = by_kind.get(sniff(texts[i]))
        if bucket is not None and len(bucket) < PER_KIND:
            bucket.append(texts[i])
        if all(len(b) >= PER_KIND for b in by_kind.values()):
            break
    return uniform, by_kind


def probe(table: pa.Table, seed: int) -> dict[str, float]:
    """Per-layer kernel and extract_batches metrics on a sample of ``table``
    (a transcripts table: conv_id, turn_idx, role, text, tool, ts)."""
    uniform, by_kind = sample(table, seed)
    texts = uniform.column("text").to_pylist()
    html = by_kind[PK_HTML]
    segmented = [segment_html(t) for t in html]
    out = {
        "kernel.sniff.us_per_turn": _us_per_item(sniff, texts),
        "kernel.html.segment_us_per_turn": _us_per_item(segment_html, html),
        "kernel.html.classify_us_per_turn": _us_per_item(classify_blocks, segmented),
        "kernel.pdf.us_per_turn": _us_per_item(reflow_pdf, by_kind[PK_PDF]),
        "kernel.mixed.us_per_turn": _us_per_item(extract_mixed, by_kind[PK_MIXED]),
        "kernel.plain.us_per_turn": _us_per_item(extract_plain, by_kind[PK_PLAIN]),
    }

    per_call = []
    for t in texts:
        t0 = time.perf_counter_ns()
        extract_one(t)
        per_call.append((time.perf_counter_ns() - t0) / 1e3)
    out["kernel.extract_one.p50_us"] = percentile(per_call, 50)
    tl = tail(per_call)
    out["kernel.extract_one.tail_pct"] = tl[0] if tl else 0.0
    out["kernel.extract_one.tail_us"] = tl[1] if tl else 0.0
    out["kernel.extract_one.samples"] = len(per_call)
    one_us = _us_per_item(extract_one, texts)

    batches = uniform.to_batches(max_chunksize=ARROW_BATCH_ROWS)

    def run_batches(_):
        for _rb in extract_batches(iter(batches)):
            pass

    batch_us = _us_per_item(run_batches, [None]) / max(len(texts), 1)
    out["extract_job.extract_batches.us_per_turn"] = batch_us
    out["extract_job.arrow_assembly.us_per_turn"] = batch_us - one_us
    return out

"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start and an end (``time.perf_counter`` seconds), the
id of the span that was open when it started, and the trace id of the run.
Spans stay in memory and are written out once, as JSON lines, when the run
ends. A disabled tracer records nothing and costs one branch per span.

A span opened with ``label=True`` also becomes the Spark job description of
every job submitted inside it, so the event-log reducer can key stages to
spans (``perfbench:<span id>:<span name>``).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import pathlib
import time
import uuid
from dataclasses import asdict, dataclass, field

LABEL_PREFIX = "perfbench:"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.spark_context = None  # set once a session is up, for labels

    @contextlib.contextmanager
    def span(self, name: str, label: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sc = self.spark_context if label else None
        prior = sc.getLocalProperty("spark.job.description") if sc is not None else None
        if sc is not None:
            sc.setJobDescription(f"{LABEL_PREFIX}{sid}:{name}")
        self._stack.append(sid)
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.trace_id, dict(attrs))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if sc is not None:
                sc.setJobDescription(prior)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: pathlib.Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({**asdict(s), "self_s": selfs[s.span_id]}) + "\n")


def span_id_of_label(description: str | None) -> int | None:
    """The span id in a job description set by ``Tracer.span(label=True)``."""
    if not description or not description.startswith(LABEL_PREFIX):
        return None
    return int(description[len(LABEL_PREFIX) :].split(":", 1)[0])


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover
    (children's intervals are clipped to the parent and merged first, so
    overlapping children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out

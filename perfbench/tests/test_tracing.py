import json

from perfbench.tracing import Span, Tracer, self_times, span_id_of_label


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, "t")


def test_self_time_subtracts_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1), _span(3, 5.0, 6.0, 1)]
    assert self_times(spans) == {1: 7.0, 2: 2.0, 3: 1.0}


def test_self_time_merges_overlapping_children():
    # children overlap on [2, 3]: covered time is [1, 4], not 2 + 2
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1), _span(3, 2.0, 4.0, 1)]
    assert self_times(spans)[1] == 7.0


def test_self_time_clips_children_to_parent():
    spans = [_span(1, 0.0, 5.0), _span(2, 4.0, 9.0, 1)]
    assert self_times(spans)[1] == 4.0


def test_grandchildren_only_count_against_their_parent():
    spans = [_span(1, 0.0, 10.0), _span(2, 0.0, 4.0, 1), _span(3, 1.0, 2.0, 2)]
    assert self_times(spans) == {1: 6.0, 2: 3.0, 3: 1.0}


def test_tracer_records_nesting_and_writes_self_time(tmp_path):
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    outer, inner = tr.named("outer")[0], tr.named("inner")[0]
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.attrs == {"k": 1} and inner.trace_id == outer.trace_id == tr.trace_id
    tr.write(tmp_path / "spans.jsonl")
    lines = [json.loads(x) for x in (tmp_path / "spans.jsonl").read_text().splitlines()]
    assert [x["name"] for x in lines] == ["outer", "inner"]
    assert all(x["self_s"] >= 0 for x in lines)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_label_round_trip():
    assert span_id_of_label("perfbench:12:tableio.write_bucket_data") == 12
    assert span_id_of_label("some other description") is None
    assert span_id_of_label(None) is None

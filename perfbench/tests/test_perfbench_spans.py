import json

import pytest

from spans import Tracer, covered, self_times


def span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "op": "op-0", "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(9, 12), (-1, 0.5)], 0, 10) == pytest.approx(1.5)
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_nested_and_overlapping_children():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 3.0),   # overlaps span 2
        span(2, 0, 2.0, 5.0),
        span(3, 1, 1.5, 2.0),   # grandchild: counts against span 1 only
        span(4, 0, 9.0, 12.0),  # runs past its parent: clipped to [9, 10]
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1)  # children cover [1,5] and [9,10]
    assert st[1] == pytest.approx(2 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3)


def test_self_time_identical_children_count_once():
    spans = [span(0, None, 0.0, 4.0), span(1, 0, 1.0, 3.0), span(2, 0, 1.0, 3.0)]
    assert self_times(spans)[0] == pytest.approx(2)


def test_tracer_wraps_and_restores(tmp_path):
    class Layer:
        def work(self, x):
            return x * 2

    tr = Tracer()
    orig = Layer.work
    tr.wrap(Layer, "work", "layer.work", on_result=lambda rec, res: rec.update(result=res))
    tr.op = "op-7"
    with tr.span("root"):
        assert Layer().work(21) == 42
    tr.unwrap_all()
    assert Layer.work is orig
    root, child = tr.spans
    assert child["parent"] == root["id"] and child["op"] == "op-7" and child["result"] == 42
    assert root["start"] <= child["start"] <= child["end"] <= root["end"]

    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    assert [json.loads(line)["name"] for line in out.read_text().splitlines()] == ["root", "layer.work"]


def test_failed_span_records_error():
    tr = Tracer()
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError("x")
    assert tr.spans[0]["error"] == "ValueError" and tr.spans[0]["end"] is not None

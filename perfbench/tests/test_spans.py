import pytest

from perfbench.spans import Tracer, child_coverage, covered, self_times


def span(name, start, end, parent=None, op=1):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": op}


def test_self_time_subtracts_children():
    spans = [
        span("op", 0.0, 10.0),
        span("read", 1.0, 3.0, parent=0),
        span("write", 4.0, 9.0, parent=0),
        span("sqlite", 5.0, 8.0, parent=2),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 2.0, 3.0])


def test_overlapping_children_count_once():
    assert covered(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0), (8.0, 12.0)]) == pytest.approx(6.0)
    assert covered(0.0, 10.0, []) == 0.0


def test_coverage_of_root_spans():
    spans = [span("op", 0.0, 10.0), span("a", 0.0, 9.5, parent=0), span("op", 20.0, 22.0, op=2)]
    assert child_coverage(spans) == pytest.approx([0.95, 0.0])


def test_tracer_nests_and_only_records_inside_an_operation():
    tracer = Tracer()

    def layer(x):
        return x + 1

    traced = tracer.wrap(layer, "layer")
    assert traced(1) == 2 and tracer.spans == []
    with tracer.operation(7, "op"):
        with tracer.span("build"):
            traced(1)
    names = [(s["name"], s["parent"], s["op"]) for s in tracer.spans]
    assert names == [("op", None, 7), ("build", 0, 7), ("layer", 1, 7)]
    assert all(s["end"] >= s["start"] for s in tracer.spans)

import json
import os

import pytest

from perfbench import harness, stats
from perfbench.workloads import ITERATIVE_QUERIES, WORKLOADS

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "BENCHMARK.json"
)


@pytest.fixture(scope="module")
def spec():
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def test_declared_metrics_match_the_code(spec):
    assert [m["name"] for m in spec["end_to_end"]] == list(harness.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    layer = {**harness.PER_LAYER, **{harness.query_metric(q): "s" for q in ITERATIVE_QUERIES}}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer
    # every benchmarked workload exists; the others stay runnable by hand
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    for w in spec["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]][0]


def test_every_name_and_unit_fits_the_grammar(spec):
    names = [m["name"] for key in ("end_to_end", "per_layer", "workloads") for m in spec[key]]
    assert len(names) == len(set(names))
    assert all(stats.valid_name(n) for n in names)
    assert all(stats.valid_unit(m["unit"]) for k in ("end_to_end", "per_layer") for m in spec[k])
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("name", ["", "_x", "a b", "x" * 65, "q/1", "é"])
def test_bad_names_are_refused(name):
    assert not stats.valid_name(name)
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {name: (1.0, "s")})


def test_result_line_shape():
    line = stats.result_line(True, 3, 0, {"pass_p50_s": (1.25, "s")})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"pass_p50_s": {"value": 1.25, "unit": "s"}}


def test_tail_rule():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = stats.tail(xs)
    assert (value, n) == (90.0, 100)  # ten samples (91..100) lie beyond it
    assert pct == 90.0
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)

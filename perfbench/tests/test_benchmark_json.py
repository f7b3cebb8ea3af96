"""BENCHMARK.json agrees with what the benchmark prints."""

import json
import os
import re

import gen
import layers
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_top_level_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["perfbench"]
    assert BENCH["command"][1] == "perfbench/run.py"
    assert isinstance(BENCH["run_seconds"], int)
    assert 1 <= BENCH["run_seconds"] <= 60


def test_workloads_are_the_runners():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.RUNNERS)
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200


def test_metric_names_and_units_match_the_output():
    e2e = [(m["name"], m["unit"]) for m in BENCH["end_to_end"]]
    assert e2e == list(layers.END_TO_END)
    per = [(m["name"], m["unit"]) for m in BENCH["per_layer"]]
    assert per == list(layers.PER_LAYER)
    names = [n for n, _ in e2e + per]
    assert len(names) == len(set(names))
    for n, u in e2e + per:
        assert NAME.match(n) and UNIT.match(u), (n, u)


def test_bounds_and_setup_metric():
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert m["better"] in ("higher", "lower")


def test_search_run_has_ten_samples_beyond_its_tail():
    n = (workloads.ops_for("search", BENCH["run_seconds"])
         * len(gen.QUERY_KINDS))
    p = tracing.tail_percentile(n)
    assert p is not None and n * (100 - p) / 100 >= 10

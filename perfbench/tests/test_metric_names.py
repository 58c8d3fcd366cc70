"""Every metric the benchmark prints is declared in BENCHMARK.json, with
the same unit, and nothing declared is missing; a traced run subtracts
only an untraced record of the same code."""

import json
import os

import pytest

import run
from checks import same_rows

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_end_to_end_names_and_units(bench):
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared == run.E2E
    printed = run.e2e_metrics(9.0, [20.0, 8.0, 9.0], {"a": [1.0, 2.0], "b": [3.0]}, 1000, 5000, 1500.0)
    assert set(printed) == set(declared)
    assert all(v > 0 for v in printed.values())


def test_per_layer_names_and_units(bench):
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == run.per_layer_units()
    printed = run.layer_metrics([], {}, {"start_s": 8.0, "ship_s": 0.2}, {})
    overhead = {f"trace_overhead.{k}" for k in run.E2E}
    assert set(printed) | overhead == set(declared)


def test_every_workload_is_runnable(bench):
    from workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_same_rows_is_order_and_column_order_insensitive():
    assert same_rows(["a", "b"], [(1, 2.0), (3, 4.0)], ["b", "a"], [(4.0, 3), (2.0, 1)]) is None
    assert same_rows(["a"], [(1,)], ["a"], [(2,)]) is not None
    assert same_rows(["a"], [(1,)], ["a"], [(1,), (1,)]) is not None


def test_trace_reference_is_reused_only_for_the_same_code(tmp_path):
    code = run.code_fingerprint(ROOT)
    assert code == run.code_fingerprint(ROOT)
    path = tmp_path / "query_mix-s3-t0.json"
    assert run.matching_record(str(path), code, 1.0) is None
    rec = {"code": code, "seconds": 1.0, "failed": 0, "metrics": {}}
    path.write_text(json.dumps(rec))
    assert run.matching_record(str(path), code, 1.0) == rec
    assert run.matching_record(str(path), code, 2.0) is None
    assert run.matching_record(str(path), "0" * 64, 1.0) is None
    path.write_text(json.dumps({**rec, "failed": 1}))
    assert run.matching_record(str(path), code, 1.0) is None

"""The event-log fold on a tiny recorded log (four jobs of a Spark 4.1
session: one with a pandas UDF, one Parquet write, two foreachBatch
microbatch jobs whose job group structured streaming replaced)."""

import os

import pytest

from spans import Span, fold, parse_event_log

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")
MB = 1024 * 1024
T0 = 1792191660.0  # the recorded log's jobs start 5.69 s after this


def _jobs():
    with open(LOG, encoding="utf-8") as fh:
        return parse_event_log(fh)


def test_parse_sums_task_and_stage_metrics():
    jobs = {j["id"]: j for j in _jobs()}
    assert sorted(jobs) == [0, 2, 4, 5]
    j0 = jobs[0]
    assert j0["group"] == "span-1"
    assert j0["start"] == pytest.approx(T0 + 5.690)
    assert j0["end"] == pytest.approx(T0 + 9.984)
    assert j0["exec_cpu_s"] == pytest.approx(1.711843019)
    assert j0["gc_s"] == pytest.approx(0.276)
    assert j0["python_s"] == pytest.approx(12.065)
    assert j0["shuffle_write_mb"] == pytest.approx(1071 / MB)
    assert jobs[2]["output_mb"] == pytest.approx(5960 / MB)
    assert jobs[2]["rows_out"] == 1000


def test_fold_attributes_by_group_then_by_interval():
    spans = [
        Span("pb0", "pass", None, T0 + 4.0, T0 + 17.0),
        Span("span-1", "query.a", "pb0", T0 + 5.0, T0 + 10.5),
        Span("span-2", "query.b", "pb0", T0 + 10.6, T0 + 12.5),
        Span("pb3", "streaming.events", "pb0", T0 + 13.0, T0 + 16.0),
    ]
    progress = [(T0 + 14.1, 0.6, {"addBatch": 400, "commitOffsets": 80, "walCommit": 70, "queryPlanning": 20})]
    out = fold(spans, _jobs(), progress)

    a = out["span-1"]
    assert a["jobs"] == 1
    assert a["driver_s"] == pytest.approx(5.5 - 4.294, abs=1e-6)
    assert a["python_s"] == pytest.approx(12.065)

    b = out["span-2"]
    assert b["jobs"] == 1 and b["rows_out"] == 1000

    # jobs 4 and 5 carry the stream's run id as group: placed by time
    s = out["pb3"]
    assert s["jobs"] == 2
    assert s["exec_cpu_s"] == pytest.approx(0.204695257 + 0.042837121)
    assert s["output_mb"] == pytest.approx((1499 + 1497) / MB)
    assert s["driver_s"] == pytest.approx(3.0 - 0.5 - 0.195, abs=1e-6)
    assert s["microbatches"] == 1
    assert s["add_batch_s"] == pytest.approx(0.4)
    assert s["commit_s"] == pytest.approx(0.15)
    assert s["planning_s"] == pytest.approx(0.02)

    p = out["pb0"]  # parents include their children's jobs
    assert p["jobs"] == 4 and p["rows_out"] == 1500
    assert p["self_s"] == pytest.approx(13.0 - 5.5 - 1.9 - 3.0, abs=1e-6)
    assert p["microbatches"] == 1


def test_job_outside_every_span_is_unattributed():
    spans = [Span("pbX", "query.z", None, T0 + 20.0, T0 + 21.0)]
    assert fold(spans, _jobs())["pbX"]["jobs"] == 0

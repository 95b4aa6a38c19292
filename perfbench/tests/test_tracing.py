import json
import os
import threading

import pytest
import tracing

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def _span(name, start, end, parent=None):
    return tracing.Span(name, 0, start, end, parent)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 5.0, parent=0),  # overlaps a: union 1..5
        _span("c", 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        _span("d", 2.0, 3.0, parent=1),  # grandchild: not a child of op
    ]
    assert tracing.self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 2.0)
    assert tracing.self_time(spans, 1) == pytest.approx(2.0)
    assert tracing.self_time(spans, 4) == pytest.approx(1.0)


def test_spans_on_other_threads_hang_under_the_op_span():
    tr = tracing.Tracer()
    tr.enabled, tr.op = True, 3
    with tr.span("op", root=True):
        with tr.span("plans.build"):
            pass
        t = threading.Thread(target=lambda: tr.span("loader.load").__enter__().__exit__())
        t.start()
        t.join()
    names = {s.name: s for s in tr.spans}
    assert names["plans.build"].parent == 0
    assert names["loader.load"].parent == 0
    assert names["op"].parent is None
    assert tr.by_op() == {3: [0, 1, 2]}


def test_wrap_records_only_while_enabled():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tr = tracing.Tracer()
    tr.wrap(Owner, "f", "layer.f")
    assert Owner.f(1) == 2 and tr.spans == []
    tr.enabled = True
    assert Owner.f(2) == 3
    assert [s.name for s in tr.spans] == ["layer.f"]


def test_parse_event_log_fixture():
    with open(FIXTURE) as f:
        jobs, stages = tracing.parse_event_log(f)
    assert [(j.job_id, j.submitted, j.stages) for j in jobs] == [
        (0, 1000.0, [0, 1]),
        (1, 1002.0, [2, 3]),
    ]
    assert stages[0].tasks == 2 and stages[0].run_s == pytest.approx(1.0)
    assert stages[0].shuffle_write_bytes == 1500 and stages[0].spill_bytes == 32
    assert 2 not in stages  # job 1's stage 2 was skipped


def test_jobs_are_attributed_by_submission_window():
    with open(FIXTURE) as f:
        jobs, stages = tracing.parse_event_log(f)
    first = tracing.jobs_in(jobs, 999.5, 1001.9)
    assert [j.job_id for j in first] == [0]
    tot = tracing.job_totals(first, stages)
    assert tot == {"jobs": 1, "stages": 2, "tasks": 3, "run_s": pytest.approx(1.25),
                   "shuffle_write_bytes": 1500, "spill_bytes": 32}
    both = tracing.job_totals(tracing.jobs_in(jobs, 999.0, 1003.0), stages)
    assert both["jobs"] == 2 and both["stages"] == 3  # the skipped stage is not counted


def test_benchmark_json_matches_the_reported_metrics():
    import report

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER_UNITS

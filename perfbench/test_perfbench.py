"""Span self-time arithmetic and event-log-to-span attribution.

    python3 -m pytest perfbench/test_tracing.py -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import (  # noqa: E402
    Tracer, layer_totals, parse_event_log, self_times, span_counters)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class FakeContext:
    """Records the job group the tracer leaves set on the calling thread."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def _trace():
    """root 0..10 { a 1..4 { a.x 2..3 }, b 5..9 }"""
    clock = FakeClock()
    tr = Tracer("r", clock=clock)
    with tr.span("root"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 2.0
            with tr.span("a.x"):
                clock.t = 3.0
            clock.t = 4.0
        clock.t = 5.0
        with tr.span("b"):
            clock.t = 9.0
        clock.t = 10.0
    return tr


def test_self_time_subtracts_direct_children_only():
    tr = _trace()
    st = self_times(tr.spans)
    by_name = {s.name: st[s.span_id] for s in tr.spans}
    assert by_name == {"root": 10 - 3 - 4, "a": 3 - 1, "a.x": 1, "b": 4}
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]


def test_self_time_counts_overlapping_children_once_and_clips():
    clock = FakeClock()
    tr = Tracer("r", clock=clock)
    with tr.span("p"):
        clock.t = 2.0
    # children recorded by hand: two overlapping, one running past p
    from tracing import Span

    tr.spans += [Span(1, "c1", 0, "r", 0.5, 1.5), Span(2, "c2", 0, "r", 1.0, 1.8),
                 Span(3, "c3", 0, "r", 1.9, 3.0)]
    assert abs(self_times(tr.spans)[0] - (2.0 - 1.3 - 0.1)) < 1e-12


def test_tracer_sets_innermost_job_group_and_restores_parent():
    ctx = FakeContext()
    tr = Tracer("run7", spark_context=ctx, clock=FakeClock())
    seen = []
    with tr.span("outer"):
        seen.append(ctx.group)
        with tr.span("inner"):
            seen.append(ctx.group)
        seen.append(ctx.group)
    seen.append(ctx.group)
    assert seen == ["run7:0", "run7:1", "run7:0", None]


def _events(*evs):
    return [json.dumps(e) for e in evs]


def _job(job_id, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group} if group else {}}


def _stage(stage_id, group):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage_id},
            "Properties": {"spark.jobGroup.id": group} if group else {}}


def _task(stage_id, run_ms, wrote=0, read=0, spill=0, failed=False):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Failed": failed},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": wrote},
                "Shuffle Read Metrics": {"Remote Bytes Read": read,
                                         "Local Bytes Read": read},
                "Disk Bytes Spilled": spill}}


def test_event_log_attributes_each_job_and_task_once():
    lines = _events(
        _job(0, "r:1", [0, 1]), _stage(0, "r:1"), _stage(1, "r:1"),
        _task(0, 1000, wrote=10), _task(0, 3000, wrote=20), _task(1, 500, read=15),
        # job 1 (outer span) lists stage 0 again but skips it: no new tasks
        _job(1, "r:0", [0, 2]), _stage(2, "r:0"),
        _task(2, 200, spill=7), _task(2, 200, failed=True),
        _job(2, None, [3]), _stage(3, None), _task(3, 100),
    )
    got = parse_event_log(lines)
    inner, outer, untagged = got["r:1"], got["r:0"], got[None]
    assert (inner["jobs"], inner["tasks"], outer["jobs"], outer["tasks"]) == (1, 3, 1, 2)
    assert inner["shuffle_write_bytes"] == 30 and inner["shuffle_read_bytes"] == 30
    assert inner["shuffle_stages"] == 1 and outer["shuffle_stages"] == 0
    assert abs(inner["executor_run_s"] - 4.5) < 1e-12
    # dominant stage 0: tasks 1 s and 3 s -> max/median = 3 / 2
    assert inner["task_skew"] == 1.5
    assert outer["failed_tasks"] == 1 and outer["spill_bytes"] == 7
    assert untagged["jobs"] == 1 and untagged["tasks"] == 1


def test_nested_groups_resolve_to_spans_and_layers():
    tr = _trace()  # groups r:0 root, r:1 a, r:2 a.x, r:3 b
    lines = _events(
        _job(0, "r:1", [0]), _stage(0, "r:1"), _task(0, 1000),
        _job(1, "r:2", [1]), _stage(1, "r:2"), _task(1, 2000), _task(1, 2000),
        _job(2, "r:3", [2]), _stage(2, "r:3"), _task(2, 500),
    )
    by_group = parse_event_log(lines)
    own = span_counters(tr.spans, by_group)
    assert [own[i]["jobs"] for i in range(4)] == [0, 1, 1, 1]
    inc = span_counters(tr.spans, by_group, inclusive=True)
    assert [inc[i]["jobs"] for i in range(4)] == [3, 2, 1, 1]
    assert [inc[i]["tasks"] for i in range(4)] == [4, 3, 2, 1]
    assert abs(inc[0]["executor_run_s"] - 5.5) < 1e-12

    layers = layer_totals(tr.spans, by_group)
    # "a" and "a.x" are one layer: its wall time is a's, counted once
    assert layers["a"]["wall_s"] == 3.0
    assert layers["a"]["self_s"] == 2.0 + 1.0
    assert layers["a"]["jobs"] == 2 and layers["a"]["tasks"] == 3
    assert layers["root"]["jobs"] == 0 and layers["b"]["jobs"] == 1


def test_benchmark_json_lists_the_metrics_the_runs_print():
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == \
        list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        list(run.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)
    sys.path.insert(0, root)
    import workloads

    assert set(run.WORKLOAD_NAMES) == set(workloads.WORKLOADS)

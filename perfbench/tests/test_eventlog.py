"""Checks of the event-log parser and the span arithmetic against a small
recorded log (``data/``): one run ``r1`` with spans ``pipelines.outer``
(a count), its children ``operators.dedup.inner`` (a mapInPandas frame
broadcast-joined and counted) and ``sinks.write`` (a parquet write), plus
one count outside any run. Fields the parser does not read were dropped.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from spans import Span, group_id, parse_group, self_times  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def _spans() -> list[Span]:
    with open(os.path.join(HERE, "data", "spans_small.json")) as f:
        return [Span(**s) for s in json.load(f)]


def _raw(kind: str) -> list[dict]:
    with open(LOG) as f:
        return [e for e in map(json.loads, f) if e["Event"] == kind]


def test_read_attributes_jobs_to_their_job_group():
    by_group = eventlog.read(LOG)
    jobs = {g: c["exec.jobs"] for g, c in by_group.items()}
    assert jobs == {
        "perfbench:r1:1": 2,
        "perfbench:r1:2": 3,
        "perfbench:r1:3": 1,
        None: 2,  # the count outside any run
    }
    # every task and every millisecond of executor time lands in one group
    tasks = _raw("SparkListenerTaskEnd")
    assert sum(c["exec.tasks"] for c in by_group.values()) == len(tasks)
    assert sum(c["exec.run_ms"] for c in by_group.values()) == sum(
        t["Task Metrics"]["Executor Run Time"] for t in tasks
    )
    assert sum(c["exec.stages"] for c in by_group.values()) == len(
        _raw("SparkListenerStageCompleted")
    )


def test_read_puts_python_metrics_and_joins_on_the_span_that_ran_them():
    by_group = eventlog.read(LOG)
    inner = by_group["perfbench:r1:2"]
    assert inner["joins.bhj"] == 1
    assert inner["python.bytes_sent"] > 0 and inner["python.bytes_received"] > 0
    assert inner["python.run_ms"] > 0
    for group, c in by_group.items():
        if group != "perfbench:r1:2":
            assert c["joins.bhj"] == 0
            assert all(c[name] == 0 for name in eventlog.PYTHON_METRICS.values())


def test_attribute_sums_one_run_by_layer():
    by_group = eventlog.read(LOG)
    att = eventlog.attribute(by_group, _spans(), "r1")
    assert att["totals"]["exec.jobs"] == 6  # excludes the job outside the run
    assert att["jobs_by_layer"] == {"pipelines": 2, "operators": 3, "sinks": 1}
    assert att["totals"]["plans.build_jobs"] == 0
    t = att["totals"]
    assert t["exec.wait_ms"] == t["exec.run_ms"] - t["exec.cpu_ms"]
    assert eventlog.attribute(by_group, _spans(), "other")["totals"]["exec.jobs"] == 0


def test_attribute_counts_jobs_under_a_plans_span_as_build_jobs():
    renamed = [
        Span(s.id, "plans.llm.outer" if s.id == 1 else s.name, s.parent, s.run, s.start, s.end)
        for s in _spans()
    ]
    att = eventlog.attribute(eventlog.read(LOG), renamed, "r1")
    assert att["totals"]["plans.build_jobs"] == 6  # outer and both children


def test_self_time_subtracts_the_union_of_child_intervals():
    spans = [
        Span(0, "run", None, "a", 0.0, 10.0),
        Span(1, "x.one", 0, "a", 1.0, 3.0),
        Span(2, "x.two", 0, "a", 2.0, 5.0),  # overlaps x.one: counted once
        Span(3, "x.three", 0, "a", 7.0, 8.0),
        Span(4, "x.leaf", 3, "a", 7.5, 8.0),
        Span(0, "run", None, "b", 0.0, 4.0),  # same ids, another run
    ]
    got = self_times(spans)
    assert got[("a", 0)] == 10.0 - 4.0 - 1.0
    assert got[("a", 1)] == 2.0 and got[("a", 2)] == 3.0
    assert got[("a", 3)] == 0.5 and got[("a", 4)] == 0.5
    assert got[("b", 0)] == 4.0


def test_self_times_of_the_recorded_run_add_up_to_its_duration():
    spans = _spans()
    got = self_times(spans)
    root = next(s for s in spans if s.id == 0)
    assert abs(sum(got.values()) - root.duration) < 1e-9


def test_group_ids_round_trip():
    assert parse_group(group_id("r7", 12)) == ("r7", 12)
    assert parse_group(None) is None
    assert parse_group("someone-else") is None

"""Spark event-log parser: execution counters per job group.

The traced run writes an uncompressed, non-rolling event log (JSON lines).
:func:`read` folds it into one counter dict per job group: jobs, completed
stages, tasks, executor run/CPU/GC time, shuffle and spill bytes, scan
input, Python-worker SQL metrics, and the join operators of each SQL
execution's final (post-AQE) plan. :func:`attribute` then sums the groups
of one run and splits jobs and run time by the layer of the span that
launched them.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict

from spans import Span, parse_group

# SQL metric display names of the Python-worker exec nodes (sizes in
# bytes, times in ms)
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
}
JOIN_NODES = {
    "SortMergeJoin": "joins.smj",
    "ShuffledHashJoin": "joins.shj",
    "BroadcastHashJoin": "joins.bhj",
}
COUNTERS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.run_ms",
    "exec.cpu_ms",
    "exec.gc_ms",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_ms",
    "spill.disk_bytes",
    "spill.memory_bytes",
    "sources.input_bytes",
    "sources.input_rows",
    *PYTHON_METRICS.values(),
    *JOIN_NODES.values(),
)
SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListener"


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def read(path: str) -> dict[str | None, Counter]:
    """Job group -> counters (names in :data:`COUNTERS`)."""
    by_group: dict[str | None, Counter] = defaultdict(Counter)
    stage_group: dict[int, str | None] = {}
    final_plan: dict[int, tuple[str | None, dict]] = {}  # execution id
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                by_group[group]["exec.jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                stage_group[info["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                by_group[group]["exec.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                _task(by_group[stage_group.get(ev["Stage ID"])], ev)
            elif kind in (
                SQL_EVENT + "SQLExecutionStart",
                SQL_EVENT + "SQLAdaptiveExecutionUpdate",
            ):
                # the last plan of an execution is its final adaptive plan
                prior = final_plan.get(ev["executionId"], (None, None))[0]
                final_plan[ev["executionId"]] = (
                    ev.get("jobGroupId", prior),
                    ev["sparkPlanInfo"],
                )
    for group, info in final_plan.values():
        for node in _plan_nodes(info):
            if node["nodeName"] in JOIN_NODES:
                by_group[group][JOIN_NODES[node["nodeName"]]] += 1
    return by_group


def _task(c: Counter, ev: dict) -> None:
    m = ev.get("Task Metrics")
    c["exec.tasks"] += 1
    if not m:
        return
    c["exec.run_ms"] += m["Executor Run Time"]
    c["exec.cpu_ms"] += m["Executor CPU Time"] / 1e6
    c["exec.gc_ms"] += m["JVM GC Time"]
    c["spill.memory_bytes"] += m["Memory Bytes Spilled"]
    c["spill.disk_bytes"] += m["Disk Bytes Spilled"]
    sr = m["Shuffle Read Metrics"]
    c["shuffle.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    c["shuffle.fetch_wait_ms"] += sr["Fetch Wait Time"]
    c["shuffle.write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    c["sources.input_bytes"] += m["Input Metrics"]["Bytes Read"]
    c["sources.input_rows"] += m["Input Metrics"]["Records Read"]
    for acc in ev["Task Info"].get("Accumulables", ()):
        name = PYTHON_METRICS.get(acc.get("Name"))
        if name and "Update" in acc:
            c[name] += float(acc["Update"])


def layer(span_name: str) -> str:
    """'plans.llm.cascade_verdicts' -> 'plans'; the run span -> 'run'."""
    return span_name.split(".", 1)[0]


def attribute(by_group: dict[str | None, Counter], spans: list[Span], run: str) -> dict:
    """Counters of one run: totals, plus jobs and executor run time by the
    layer of the innermost span that launched them, plus the jobs launched
    under a ``plans.*`` span (eager work while building a plan)."""
    by_id = {s.id: s for s in spans if s.run == run}
    total: Counter = Counter()
    jobs_by_layer: Counter = Counter()
    run_ms_by_layer: Counter = Counter()
    build_jobs = 0
    for group, c in by_group.items():
        key = parse_group(group)
        if key is None or key[0] != run:
            continue
        total.update(c)
        span = by_id[key[1]]
        jobs_by_layer[layer(span.name)] += c["exec.jobs"]
        run_ms_by_layer[layer(span.name)] += c["exec.run_ms"]
        chain = span
        while chain is not None:
            if layer(chain.name) == "plans":
                build_jobs += c["exec.jobs"]
                break
            chain = by_id.get(chain.parent) if chain.parent is not None else None
    out = {name: float(total[name]) for name in COUNTERS}
    out["exec.wait_ms"] = out["exec.run_ms"] - out["exec.cpu_ms"]
    out["plans.build_jobs"] = float(build_jobs)
    return {
        "totals": out,
        "jobs_by_layer": dict(jobs_by_layer),
        "run_ms_by_layer": dict(run_ms_by_layer),
    }

"""The repository's benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload stac_catalog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (any working directory works; paths are
resolved from this file). Each invocation:

1. starts the package's Spark session on ``local[nproc]`` and runs one
   warm-up action;
2. generates the workload's inputs from ``--seed`` (``datagen.py``);
3. runs the workload once in the fresh session, then again, closed loop
   with one client, ``min_warm`` times;
4. stops the session, waits for its JVM to exit and repeats 1 and 3 until
   it has started the workload's ``sessions`` (a traced invocation starts
   one); the last session runs on until all runs took ``--seconds``.
   ``setup_s`` is the median set-up, each the time the interpreter took
   to start and import plus the session's start and warm-up action;
   ``first_run_s`` the median first run in a fresh session; ``run_s``
   the median warm run;
5. after every run, before any cleanup, records the persisted RDDs,
   CacheManager entries and block-manager bytes the run left in the
   session, then releases them so no run reads an earlier run's cache;
6. checks the last run's outputs against the DuckDB oracles;
7. stops the session and waits for its JVM to exit.

With ``--trace 0`` the last line of stdout is one JSON object with the
end-to-end metrics. With ``--trace 1`` a single session also writes a Spark
event log, the warm runs alternate untraced and traced (``spans.py``),
and the last line carries the per-layer metrics of the last traced run,
parsed from the log (``eventlog.py``). Lines before it print every metric
by name with its unit, then the full record (seed, host, versions,
inputs, run samples, session state per run, spans) as one JSON line.

A traced invocation also makes the workload's side pass after its runs
(``workloads.py``): the streaming cascade (``curation_corpus``) or the
vector-search query mix (``stac_catalog``), whose metrics join the
per-layer record.

All inputs, outputs, Spark scratch, warehouse and event-log files go to
a temporary directory under ``.perfbench_work/`` in the checkout, which
is removed at exit; the directories of earlier invocations that were
killed are removed at start. Exits non-zero, printing no result, when
the package is not importable or no run completed.
"""

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "maap_data_pipelines_spark"

# warm runs of a traced invocation's one session (it alternates untraced
# and traced runs); an untraced one makes the workload's ``min_warm`` per
# session. The last session makes more until all runs took --seconds.
MIN_WARM_TRACED = 2
WORK_BASE = ".perfbench_work"

VERDICTS = ("quality", "exact_dup", "near_dup", "contained", "stale", "ok")
SPAN_LAYERS = ("pipelines", "plans", "operators", "sinks", "sources", "functions")


def metric_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, in ``BENCHMARK.json`` order: ``end_to_end``
    for an untraced run, ``per_layer`` for a traced one."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def configure_env(work: str, trace: bool) -> None:
    """Process environment for the Spark JVM and its Python workers; must
    run before pyspark starts a JVM."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    submit = [
        f"--conf spark.local.dir={work}/local",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{work}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update(
        {
            # Python workers import the package by name
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
            "SPARK_GRAFT_CPUS": str(nproc),
            "TMPDIR": os.path.join(work, "tmp"),
            # every JVM (Spark's launcher and the session): temp files in
            # the work dir, no hsperfdata file in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        }
    )
    sys.path.insert(0, ROOT)


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all its descendants (the JVM and its
    Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(p, ()))
    return total


class Sampler(threading.Thread):
    """Peak resident memory of the Spark process tree and, when given a
    probe, peak block-manager bytes, sampled every ``period`` seconds."""

    def __init__(self, pid: int, storage=None, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.pid, self.storage, self.period = pid, storage, period
        self.peak_rss = 0
        self.peak_storage = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.period):
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.pid))
            if self.storage is not None:
                self.peak_storage = max(self.peak_storage, self.storage())

    def stop(self) -> None:
        self._done.set()
        self.join(timeout=30)


def block_bytes(spark) -> int:
    return sum(
        i.memSize() + i.diskSize()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


def session_state(spark) -> dict:
    """What a run left in the session: persisted RDDs (localCheckpoint and
    persist sites), CacheManager entries and block-manager bytes."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return {
        "leaked_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "cache_entries": field.get(cm).size(),
        "block_bytes": block_bytes(spark),
    }


def release(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def work_dir() -> str:
    """A fresh ``.perfbench_work/run-<pid>-*`` directory in the checkout,
    after removing those whose process no longer exists."""
    base = os.path.join(ROOT, WORK_BASE)
    os.makedirs(base, exist_ok=True)
    for name in os.listdir(base):
        pid = name.split("-")[1] if name.startswith("run-") else ""
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = work_dir()
    try:
        configure_env(work, bool(args.trace))
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def timed_run(spark, wl, inputs, tracer, run_id: str, traced: bool, out_dir: str) -> dict:
    """One workload run; then the session state it left, released."""
    rec = {"run": run_id, "traced": traced, "ok": False}
    t = time.perf_counter()
    try:
        with tracer.run(run_id, traced):
            result = wl.run(spark, inputs, out_dir)
        rec["seconds"] = time.perf_counter() - t
        rec["result"] = result
        rec["failed_ops"] = wl.failed_ops(result)
        rec["ok"] = rec["failed_ops"] == 0
    except Exception:
        rec["seconds"] = time.perf_counter() - t
        rec["error"] = traceback.format_exc(limit=5)
        print(rec["error"], file=sys.stderr)
    rec["state"] = session_state(spark)
    release(spark)
    return rec


def bench(args, work: str) -> int:
    load1 = os.getloadavg()[0]
    import session_setup
    import spans
    from workloads import WORKLOADS, tree_size

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    traced_mode = bool(args.trace)
    tracer = spans.Tracer(None)
    runs: list[dict] = []  # one per attempted run

    # an untraced invocation starts ``wl.sessions`` fresh sessions one
    # after the other, each with its own JVM and Python workers; each
    # gives a set-up, a first run and ``min_warm`` warm runs
    n_sessions = 1 if traced_mode else wl.sessions
    min_warm = MIN_WARM_TRACED if traced_mode else wl.min_warm
    imports_s = time.time() - T0
    setups: list[float] = []
    inputs = None
    last_ok = None
    measured = 0.0  # seconds of all runs so far
    for k in range(n_sessions):
        last_session = k == n_sessions - 1
        spark, start_s, warmup_s = session_setup.start("perfbench")
        # the one-time interpreter start and imports, plus this session's
        # start and warm-up action
        setups.append(imports_s + start_s + warmup_s)
        sc = tracer.sc = spark.sparkContext
        if inputs is None:
            inputs = wl.make_inputs(args.seed, os.path.join(work, "data"))
        if traced_mode:
            spans.install(tracer)
        if last_session:
            sampler = Sampler(
                sc._gateway.proc.pid, (lambda: block_bytes(spark)) if traced_mode else None
            )
            sampler.start()
        i = 0
        while True:
            run_id = f"s{k}r{i}"
            traced = traced_mode and i >= 1 and i % 2 == 0
            out_dir = os.path.join(work, "out", run_id)
            rec = timed_run(spark, wl, inputs, tracer, run_id, traced, out_dir)
            rec["warm"] = i > 0
            if traced and rec["ok"]:
                rec["outcomes"] = wl.outcomes(spark, out_dir)
            rec["output_bytes"], rec["output_files"] = tree_size(out_dir)
            runs.append(rec)
            if rec["ok"]:
                if last_ok is not None:
                    shutil.rmtree(last_ok["out_dir"], ignore_errors=True)
                rec["out_dir"] = out_dir
                last_ok = rec
            else:
                shutil.rmtree(out_dir, ignore_errors=True)
            measured += rec["seconds"]
            i += 1
            if i > min_warm and (not last_session or measured >= args.seconds):
                break
        if not last_session:
            session_setup.stop(spark)
    sampler.stop()

    cold = [r for r in runs if not r["warm"]]
    warm = [r for r in runs if r["warm"] and r["ok"] and not r["traced"]]
    if last_ok is None or not warm:
        session_setup.stop(spark)
        print("perfbench: no warm run completed", file=sys.stderr)
        return 1
    side, problems = None, []
    t = time.perf_counter()
    if traced_mode:
        try:
            side = wl.side_pass(spark, inputs, work, tracer)
            problems += side.problems
        except Exception:
            problems.append("side pass raised: " + traceback.format_exc(limit=5))
            print(problems[-1], file=sys.stderr)
    side_s = time.perf_counter() - t
    t = time.perf_counter()
    try:
        problems += wl.check(spark, inputs, last_ok["out_dir"], last_ok["result"])
    except Exception:
        problems.append("check raised: " + traceback.format_exc(limit=5))
    check_s = time.perf_counter() - t
    versions = {
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
    }
    session_setup.stop(spark)

    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "load1_pre": load1,
        **versions,
        "input": {"rows": inputs.rows, "bytes": inputs.bytes},
        "corpus_ledger": (
            {k: v for k, v in vars(inputs.ledger).items() if k != "kinds"}
            if inputs.ledger
            else None
        ),
        "notes": {k: v for k, v in inputs.notes.items() if k != "oracle_verdicts"},
        "runs": [{k: v for k, v in r.items() if k != "out_dir"} for r in runs],
        "problems": problems,
        "check_s": check_s,
    }
    if traced_mode:
        metrics = per_layer(work, tracer, runs, start_s, warmup_s, sampler, side)
        record["spans"] = span_table(tracer)
        record["side_pass_s"] = side_s
    else:
        run_s = statistics.median(r["seconds"] for r in warm)
        metrics = {
            "setup_s": statistics.median(setups),
            "first_run_s": statistics.median(r["seconds"] for r in cold),
            "run_s": run_s,
            "rows_per_s": wl.items(last_ok["result"]) / run_s,
            "output_bytes_per_input_byte": last_ok["output_bytes"] / inputs.bytes,
        }
        # too few samples for any tail percentile: median and count only
        record["samples"] = {
            "setup_s": setups,
            "first_run_s": [r["seconds"] for r in cold],
            "run_s": [r["seconds"] for r in warm],
        }
        record["peak_rss_mb"] = sampler.peak_rss / 2**20
    units = metric_units(traced_mode)
    record["metrics"] = metrics
    for name, unit in units.items():
        print(f"{name} = {metrics[name]:.6g} {unit}")
    print(json.dumps(record, default=str))
    failed = sum(1 for r in runs if not r["ok"])
    print(
        json.dumps(
            {
                "correct": not problems and failed == 0,
                "attempted": len(runs),
                "failed": failed,
                "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
            }
        )
    )
    return 0


def per_layer(work, tracer, runs, start_s, warmup_s, sampler, side) -> dict:
    import eventlog
    from spans import self_times
    from workloads import SIDE_METRICS

    (log_name,) = os.listdir(os.path.join(work, "eventlog"))
    by_group = eventlog.read(os.path.join(work, "eventlog", log_name))
    traced = [r for r in runs if r["traced"] and r["ok"]]
    untraced = [r for r in runs if r["warm"] and not r["traced"] and r["ok"]]
    last = traced[-1]
    att = eventlog.attribute(by_group, tracer.spans, last["run"])
    run_spans = [s for s in tracer.spans if s.run == last["run"]]
    selfs = self_times(run_spans)

    by_id = {s.id: s for s in run_spans}

    def outermost(layer: str) -> float:
        total = 0.0
        for s in run_spans:
            if eventlog.layer(s.name) != layer:
                continue
            p = by_id.get(s.parent)
            while p is not None and eventlog.layer(p.name) != layer:
                p = by_id.get(p.parent)
            if p is None:
                total += s.duration
        return total

    result = last["result"]
    m = dict(att["totals"])
    m.update(
        {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "memory.peak_rss_mb": sampler.peak_rss / 2**20,
            "plans.build_s": outermost("plans"),
            "materialize.block_bytes_peak": max(sampler.peak_storage, last["state"]["block_bytes"]),
            "materialize.leaked_rdds": last["state"]["leaked_rdds"],
            "materialize.cache_entries_after": last["state"]["cache_entries"],
            "sinks.write_s": outermost("sinks"),
            "sinks.bytes_written": last["output_bytes"],
            "sinks.files_written": last["output_files"],
            "sinks.receipts_failed": last["failed_ops"],
            "spans.total": len(run_spans) - 1,
            "spans.dedup": sum(s.name.startswith("operators.dedup.") for s in run_spans),
            "spans.curation": sum(s.name.startswith("operators.curation.") for s in run_spans),
            "trace.run_s": statistics.median(r["seconds"] for r in traced),
            "trace.untraced_run_s": statistics.median(r["seconds"] for r in untraced),
        }
    )
    m["trace.overhead_s"] = m["trace.run_s"] - m["trace.untraced_run_s"]
    # executor busy time as a share of the run's core-seconds
    m["exec.core_share"] = m["exec.run_ms"] / (
        1e3 * last["seconds"] * len(os.sched_getaffinity(0))
    )

    # the side pass: its own metrics, and execution from the event log
    # (the other workload's side-pass metrics are 0)
    m.update(dict.fromkeys(SIDE_METRICS, 0.0))
    if side is not None:
        m.update(side.metrics)
        prefix = side.layer
        groups = [by_group.get(g, {}) for g in side.job_groups]
        for run_id in side.runs:
            groups.append(eventlog.attribute(by_group, tracer.spans, run_id)["totals"])
        m[f"{prefix}.jobs"] = float(sum(g.get("exec.jobs", 0) for g in groups))
        m[f"{prefix}.run_ms"] = float(sum(g.get("exec.run_ms", 0) for g in groups))
    for layer in SPAN_LAYERS[:4]:
        m[f"exec.jobs.{layer}"] = float(att["jobs_by_layer"].get(layer, 0))
        m[f"exec.run_ms.{layer}"] = float(att["run_ms_by_layer"].get(layer, 0))
    for layer in ("run", *SPAN_LAYERS):
        m[f"self_s.{layer}"] = sum(
            selfs[(s.run, s.id)] for s in run_spans if eventlog.layer(s.name) == layer
        )
    outcomes = last.get("outcomes", {})
    for v in VERDICTS:
        m[f"curation.verdicts.{v}"] = outcomes.get(v, 0)
    m["curation.kept_ratio"] = outcomes.get("ok", 0) / result["n_in"] if outcomes else 0.0
    return m


def span_table(tracer) -> dict:
    """Per span name: calls, total and self seconds (all traced runs)."""
    from spans import self_times

    selfs = self_times(tracer.spans)
    table: dict[str, dict] = {}
    for s in tracer.spans:
        row = table.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s.duration
        row["self_s"] += selfs[(s.run, s.id)]
    return table


if __name__ == "__main__":
    sys.exit(main())

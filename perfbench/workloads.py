"""The benchmark's workloads: inputs, one run, and the correctness check.

Each workload is a closed loop with one client: the next pipeline run
starts when the previous one has returned. A run calls one public entry
point of the package on the generated inputs and writes into a fresh
output directory. The check runs outside the timed region, on the
outputs of the last run, and returns a list of problems (empty = pass).

* ``stac_catalog`` -- ``pipelines.run_stac_pipeline``: discovery-derived
  catalog -> STAC items -> partitioned catalog write -> transfer plan and
  its Python-worker copies -> batched dry-run submission receipts. Heavy
  on writes and on Python workers; it never runs the dedup, join-gate or
  curation code, so it is the control for every curation change.
* ``curation_corpus`` -- ``pipelines.run_curation_pipeline``: the
  five-stage keep/reject cascade over a replicated corpus with injected
  cross-replica duplicates, then the curated corpus, rejection histogram
  and token-yield writes.

A traced invocation also makes one side pass after its runs, outside
the timed runs (:meth:`side_pass`), so that the layers no timed run
reaches are measured too: ``curation_corpus`` streams the same corpus
through ``streaming.cascade.streaming_curation_cascade`` (``stream.*``,
``state.*``, ``table.versions``), and ``stac_catalog`` runs a short
query mix of the vector-search keys (``query.*``; the ``operators.ann``,
``operators.kmeans`` and ``operators.pq`` layers). Each side pass checks
its own outputs.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import datagen
from maap_data_pipelines_spark.sources.catalog import TABLES

# per-layer metrics of the side passes; a workload reports the other
# workload's as 0
STREAM_METRICS = (
    "stream.batches",
    "stream.first_batch_s",
    "stream.batch_latency_s",
    "stream.add_batch_ms",
    "stream.get_batch_ms",
    "stream.query_planning_ms",
    "stream.wal_commit_ms",
    "stream.jobs",
    "stream.run_ms",
    "state.bytes",
    "state.files",
    "table.versions",
)
QUERY_METRICS = (
    "query.keys",
    "query.first_latency_s",
    "query.latency_s",
    "query.jobs",
    "query.run_ms",
    "spans.query",
)
SIDE_METRICS = STREAM_METRICS + QUERY_METRICS


@dataclass
class Inputs:
    data_dir: str
    rows: int  # rows of the table the workload consumes
    bytes: int  # bytes of that table's file
    ledger: object = None
    notes: dict = field(default_factory=dict)


@dataclass
class SidePass:
    """What a side pass measured: its layer ('stream' or 'query'), its
    metrics (names in :data:`SIDE_METRICS`), the problems its check
    found, and the Spark job groups or benchmark run ids whose event-log
    counters are its execution."""

    layer: str
    metrics: dict
    problems: list[str]
    job_groups: list[str] = field(default_factory=list)
    runs: list[str] = field(default_factory=list)


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(d, f))
            nfiles += 1
    return nbytes, nfiles


class StacCatalog:
    name = "stac_catalog"
    # first and warm runs are samples of one JVM each (its compiled code
    # and workers differ from JVM to JVM): an untraced invocation starts
    # two sessions, each with a first run and one warm run
    sessions = 2
    min_warm = 1
    n_orders = 4_000
    n_vectors = 500
    # one key per vector-search operator module: ann, kmeans, pq
    query_keys = ("ann_cosine_topk", "embedding_kmeans", "ann_pq_topk")

    def make_inputs(self, seed: int, data_dir: str) -> Inputs:
        rows, nbytes = datagen.write_table(
            datagen.make_orders(seed, self.n_orders), data_dir, "orders"
        )
        datagen.write_table(
            datagen.make_embeddings(seed, self.n_vectors), data_dir, "embeddings"
        )
        datagen.write_placeholders(data_dir, TABLES)
        return Inputs(data_dir, rows, nbytes, notes={"seed": seed})

    def run(self, spark, inputs: Inputs, out_dir: str) -> dict:
        from maap_data_pipelines_spark import pipelines

        return pipelines.run_stac_pipeline(spark, inputs.data_dir, out_dir)

    def items(self, result: dict) -> int:
        return result["n_items"]

    def failed_ops(self, result: dict) -> int:
        """Non-200 submission receipts plus copies that did not succeed."""
        return result["n_failed"] + result["n_transfers"] - result["n_copied"]

    def outcomes(self, spark, out_dir: str) -> dict:
        return {}

    def check(self, spark, inputs: Inputs, out_dir: str, result: dict) -> list[str]:
        from maap_data_pipelines_spark import oracle
        from maap_data_pipelines_spark.plans import stac
        from maap_data_pipelines_spark.registry import oracle_sql

        problems = [
            f"items: {p}"
            for p in oracle.compare(
                spark.read.parquet(os.path.join(out_dir, "catalog")),
                stac.BUILD_STAC_ITEMS_SQL,
                inputs.data_dir,
            )
        ]
        problems += [
            f"transfer_plan: {p}"
            for p in oracle.compare(
                spark.read.parquet(os.path.join(out_dir, "transfer_plan")),
                oracle_sql()["transfer_plan"],
                inputs.data_dir,
            )
        ]
        if result["n_failed"]:
            problems.append(f"{result['n_failed']} submission receipts not 200")
        if result["n_submitted"] != result["n_items"]:
            problems.append(f"submitted {result['n_submitted']} of {result['n_items']} items")
        if result["n_copied"] != result["n_transfers"]:
            problems.append(f"copied {result['n_copied']} of {result['n_transfers']} transfers")
        return problems

    def side_pass(self, spark, inputs: Inputs, work: str, tracer) -> SidePass:
        """The query mix: each vector-search key built and executed to the
        noop sink, in an order drawn from the seed, twice (the first pass
        pays code generation); then each key against its oracle."""
        from maap_data_pipelines_spark import oracle
        from maap_data_pipelines_spark.registry import oracle_sql, queries

        registered = queries()
        keys = list(self.query_keys)
        random.Random(inputs.notes["seed"]).shuffle(keys)
        latency: list[list[float]] = []
        with tracer.run("query", True):
            for _ in range(2):
                latency.append([])
                for key in keys:
                    t = time.perf_counter()
                    df = registered[key](spark, inputs.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                    latency[-1].append(time.perf_counter() - t)
        problems = [
            f"{key}: {p}"
            for key in keys
            for p in oracle.compare(
                registered[key](spark, inputs.data_dir), oracle_sql()[key], inputs.data_dir
            )
        ]
        spans = [s for s in tracer.spans if s.run == "query"]
        metrics = {
            "query.keys": len(keys),
            "query.first_latency_s": statistics.median(latency[0]),
            "query.latency_s": statistics.median(latency[1]),
            "spans.query": sum(
                s.name.startswith(("operators.ann.", "operators.kmeans.", "operators.pq."))
                for s in spans
            ),
        }
        inputs.notes["query_latency_s"] = dict(zip(keys, latency[1]))
        return SidePass("query", metrics, problems, runs=["query"])


class CurationCorpus:
    name = "curation_corpus"
    # a second session (~35 s) does not fit the time budget; over ten
    # seeds the first warm run spread less than the median of two
    sessions = 1
    min_warm = 1
    n_base = 500
    replicas = 4
    stream_batches = 2
    stream_timeout_s = 150

    def make_inputs(self, seed: int, data_dir: str) -> Inputs:
        table, ledger = datagen.make_documents(seed, self.n_base, self.replicas)
        rows, nbytes = datagen.write_table(table, data_dir, "documents")
        datagen.write_placeholders(data_dir, TABLES)
        return Inputs(data_dir, rows, nbytes, ledger=ledger)

    def run(self, spark, inputs: Inputs, out_dir: str) -> dict:
        from maap_data_pipelines_spark import pipelines

        return pipelines.run_curation_pipeline(spark, inputs.data_dir, out_dir)

    def items(self, result: dict) -> int:
        return result["n_in"]

    def failed_ops(self, result: dict) -> int:
        return 0

    def outcomes(self, spark, out_dir: str) -> dict:
        """Documents per verdict reason, from the run's rejection table."""
        rows = spark.read.parquet(os.path.join(out_dir, "rejections")).collect()
        return {r["reason"]: r["n_docs"] for r in rows}

    def check(self, spark, inputs: Inputs, out_dir: str, result: dict) -> list[str]:
        verdicts = oracle_verdicts(inputs)
        problems = check_corpus(inputs, verdicts)
        want_hist = Counter(v["reason"] for v in verdicts)
        inputs.notes["verdicts"] = dict(sorted(want_hist.items()))
        got_hist = {
            r["reason"]: r["n_docs"]
            for r in spark.read.parquet(os.path.join(out_dir, "rejections")).collect()
        }
        if got_hist != dict(want_hist):
            problems.append(f"rejection histogram {got_hist} != oracle {dict(want_hist)}")
        want_kept = sorted(v["doc_id"] for v in verdicts if v["keep"])
        got_kept = sorted(
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(out_dir, "corpus")).select("doc_id").collect()
        )
        if got_kept != want_kept:
            problems.append(f"kept {len(got_kept)} docs, oracle keeps {len(want_kept)}")
        yield_docs = {
            r["reason"]: r["n_docs"]
            for r in spark.read.parquet(os.path.join(out_dir, "yield")).collect()
        }
        if yield_docs != dict(want_hist):
            problems.append(f"yield report docs {yield_docs} != oracle {dict(want_hist)}")
        if (result["n_in"], result["n_kept"]) != (len(verdicts), len(want_kept)):
            problems.append(f"pipeline counts {result} disagree with the oracle")
        return problems

    def side_pass(self, spark, inputs: Inputs, work: str, tracer) -> SidePass:
        """The streaming cascade over the same corpus: the documents in
        doc_id order as ``stream_batches`` JSON files, one per trigger, so
        later batches probe the state the earlier ones wrote. Its verdicts
        must equal the batch oracle's row for row."""
        import pyarrow.parquet as pq
        from maap_data_pipelines_spark.streaming import cascade
        from maap_data_pipelines_spark.table import VersionedTable

        base = os.path.join(work, "stream")
        src, state, out = (os.path.join(base, d) for d in ("in", "state", "out"))
        os.makedirs(src)
        docs = pq.read_table(
            os.path.join(inputs.data_dir, "documents.parquet"),
            columns=["doc_id", "text", "source"],
        ).to_pylist()
        per = -(-len(docs) // self.stream_batches)
        mtime = time.time() - 600
        for b in range(self.stream_batches):
            path = os.path.join(src, f"{b:03d}.json")
            with open(path, "w") as f:
                f.writelines(json.dumps(d) + "\n" for d in docs[b * per : (b + 1) * per])
            # increasing mtimes fix the file source's delivery order
            os.utime(path, (mtime + 10 * b, mtime + 10 * b))

        with tracer.run("stream", False):
            query = cascade.streaming_curation_cascade(
                spark, src, state, out, os.path.join(base, "checkpoint")
            )
            query.awaitTermination(self.stream_timeout_s)
        problems = []
        if query.isActive:
            query.stop()
            problems.append(f"stream did not finish in {self.stream_timeout_s} s")
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        if query.exception() is not None:
            problems.append(f"stream failed: {query.exception()}")

        got = {
            r["doc_id"]: (r["reason"], r["keep"])
            for r in spark.read.parquet(out).collect()
        }
        want = {v["doc_id"]: (v["reason"], v["keep"]) for v in oracle_verdicts(inputs)}
        if got != want:
            wrong = sum(got.get(k) != v for k, v in want.items())
            problems.append(
                f"stream verdicts differ from the batch oracle on {wrong} of {len(want)} docs"
                f" ({len(got)} streamed)"
            )
        if len(progress) != self.stream_batches:
            problems.append(f"{len(progress)} micro-batches, expected {self.stream_batches}")

        def later(key: str) -> float:
            return statistics.median(p["durationMs"].get(key, 0) for p in progress[1:])

        state_bytes, state_files = tree_size(state)
        metrics = {
            "stream.batches": len(progress),
            "stream.first_batch_s": progress[0]["durationMs"]["triggerExecution"] / 1e3,
            "stream.batch_latency_s": later("triggerExecution") / 1e3,
            "stream.add_batch_ms": later("addBatch"),
            "stream.get_batch_ms": later("getBatch"),
            "stream.query_planning_ms": later("queryPlanning"),
            "stream.wal_commit_ms": later("walCommit"),
            "state.bytes": state_bytes,
            "state.files": state_files,
            "table.versions": len(VersionedTable(os.path.join(state, "dfcounts")).versions()),
        }
        return SidePass("stream", metrics, problems, job_groups=[str(query.runId)])


def oracle_verdicts(inputs: Inputs) -> list[dict]:
    """The ``corpus_curation_extended`` oracle's verdict per document, in
    DuckDB (computed once per invocation)."""
    if "oracle_verdicts" not in inputs.notes:
        from maap_data_pipelines_spark import oracle
        from maap_data_pipelines_spark.registry import oracle_sql

        inputs.notes["oracle_verdicts"] = oracle.run_oracle_arrow(
            oracle_sql()["corpus_curation_extended"], inputs.data_dir
        ).to_pylist()
    return inputs.notes["oracle_verdicts"]


# the oracle's verdict for each kind of document the generator builds
EXPECTED_REASONS = {
    "ok": {"ok"},
    "cross_exact": {"exact_dup"},
    **{kind: {"near_dup", "contained", "stale"}
       for kind in ("near", "excerpt", "patchwork", "cross_near")},
    **{reason: {"quality"} for reason in datagen.QUALITY_SHARES},
}


def check_corpus(inputs: Inputs, verdicts: list[dict]) -> list[str]:
    """The generator's self-check against its ledger. With DuckDB: the
    quality histogram, the quality rejects of every replica, and the
    number of exact copies must equal what the generator built. Against
    the oracle's verdicts: every document gets the verdict its kind
    implies (quality failures 'quality', exact copies 'exact_dup', near
    copies, excerpts and patchworks one of 'near_dup', 'contained' or
    'stale', every other document 'ok'), so the verdict histogram equals
    the ledger's counts."""
    import duckdb

    from maap_data_pipelines_spark.registry import oracle_sql

    quality_sql = oracle_sql()["quality_filter"]
    led = inputs.ledger
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{inputs.data_dir}/documents.parquet')"
    )
    problems = []
    quality = dict(
        con.execute(
            f"SELECT reason, COUNT(*) FROM ({quality_sql}) WHERE reason != 'ok' GROUP BY 1"
        ).fetchall()
    )
    if quality != {k: v for k, v in led.quality.items() if v}:
        problems.append(f"quality histogram {quality} != ledger {led.quality}")
    per_replica = con.execute(
        f"SELECT doc_id // {led.n_base} AS r, COUNT(*) FILTER (WHERE NOT keep) "
        f"FROM ({quality_sql}) GROUP BY 1 ORDER BY 1"
    ).fetchall()
    if [n for _, n in per_replica] != [led.quality_per_replica] * led.replicas:
        problems.append(
            f"quality rejects per replica {per_replica} != {led.quality_per_replica} each"
        )
    (copies,) = con.execute(
        "SELECT COUNT(*) - COUNT(DISTINCT text) FROM documents"
    ).fetchone()
    if copies != led.exact_copies:
        problems.append(f"{copies} exact copies, ledger says {led.exact_copies}")
    con.close()

    reason = {v["doc_id"]: v["reason"] for v in verdicts}
    wrong = Counter(
        (kind, reason.get(doc_id))
        for doc_id, kind in enumerate(led.kinds)
        if reason.get(doc_id) not in EXPECTED_REASONS[kind]
    )
    if wrong or len(reason) != led.n_docs:
        problems.append(
            f"verdicts off the ledger (kind, verdict): {dict(wrong)}; "
            f"{len(reason)} verdicts for {led.n_docs} docs"
        )
    return problems


WORKLOADS = {w.name: w for w in (StacCatalog(), CurationCorpus())}

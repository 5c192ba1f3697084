"""One benchmark run inside a pinned environment (started by ``run.py``).

Drives the engine from outside, through its public functions, as one
client in a closed loop: each operation starts when the previous one
has finished. The run has three phases:

1. set-up: session start, fixture generation, and warm-up that also
   checks every output (DuckDB oracle or ingest invariants): two passes
   of ``relational``, the first one checked, or three batches and a
   compaction of ``ingest``;
2. the timed phase: whole passes of ``relational``, in an order drawn
   from the seed, or single ``ingest`` batches, until ``--seconds`` have
   elapsed (at least two passes or two batches);
3. the ingest invariants, checked once more on the final tables.

With ``--trace 1`` the same run records spans around each call into an
engine layer and reads Spark's counters after every operation, outside
its clock, and prints the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import itertools
import json
import os
import random
import statistics
import sys
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
from ag_data_ingestion_github_to_snowflake_spark import __main__ as cli
from ag_data_ingestion_github_to_snowflake_spark.catalog import TABLES
from ag_data_ingestion_github_to_snowflake_spark.pipeline import github
from ag_data_ingestion_github_to_snowflake_spark.plans.registry import all_specs
from ag_data_ingestion_github_to_snowflake_spark.session import get_spark
from ag_data_ingestion_github_to_snowflake_spark.sources import sinks
from ag_data_ingestion_github_to_snowflake_spark.sources.warehouse_sink import (
    JsonlWarehouseDataSource,
    load_manifest,
)

import fixtures
import oracle
from stats import covered, summarize
from tracing import LAYER_METRICS, ProgressListener, SparkCounters, Spans

FIXTURE_SCALE = 0.1

# Four JVM-only registry queries (aggregate, joins, window) and one
# JVM-only streaming drain, so triggers and state stores are measured
# too. None of them plans a Python node. An odd count puts the median
# latency on one query's samples rather than between two queries.
RELATIONAL = [
    "pricing_summary", "top_revenue_nations", "join_inner_lineitem_orders",
    "window_topk_orders_per_customer", "streaming_tumbling_events",
]
RELATIONAL_PASSES = 2  # at least; a warm pass takes 4-7 s on 4 cores
# Query latency still falls by up to a third from the first pass to the
# third (pricing_summary 9.8, 2.4, 1.9 s in one run), so a second pass
# runs before the clock starts.
RELATIONAL_WARMUP_PASSES = 2
INGEST_BATCHES = 2  # at least; a warm batch takes 5-8 s on 4 cores
BATCHES_PER_COMPACTION = 2
WORKLOADS = ("ingest", "relational")

# Ingest: one batch lists 50 pages of 100 repos under the token tier's
# hourly budget of 5000 requests, so 4950 detail lookups remain.
PAGES_PER_BATCH = 50
MAX_REQUESTS_PER_RUN = 5000
BATCH_ROWS = MAX_REQUESTS_PER_RUN - PAGES_PER_BATCH
# Warm-up batches, in list pages. The first batch of a session pays for
# class loading and Python worker start whatever its size, so it is
# small; batch latency keeps falling for about two more batches as the
# JIT warms up, so two full ones follow before the clock starts.
WARMUP_PAGES = (2, PAGES_PER_BATCH, PAGES_PER_BATCH)
REDELIVERED_SHARE = 0.10
README_QUERIES = {
    "readme_top_stars": (
        "SELECT id, full_name, stargazers_count FROM repos "
        "ORDER BY stargazers_count DESC, id LIMIT 10"
    ),
    "readme_count_by_owner_type": (
        "SELECT owner_type, COUNT(*) AS n FROM repos GROUP BY owner_type"
    ),
    "readme_avg_stars_by_language": (
        "SELECT language, CAST(SUM(stargazers_count) AS DOUBLE) / COUNT(*) AS avg_stars "
        "FROM repos WHERE owner_type = 'Organization' GROUP BY language"
    ),
}


class Bench:
    """Shared state of one run: the session, the op log, the tracer."""

    def __init__(self, spark, traced: bool, work: Path) -> None:
        self.spark = spark
        self.traced = traced
        self.work = work
        self.spans = Spans(enabled=traced)
        self.counters = SparkCounters(spark) if traced else None
        self.ops: list[dict] = []
        self.timed = False
        self.warmup: dict[str, dict] = {}  # per query: run seconds, rows, check seconds

    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        """One operation: own job group, own clock, errors recorded."""
        rec = {"kind": kind, "name": name, "timed": self.timed, "error": None}
        self.ops.append(rec)
        idx = len(self.ops) - 1
        self.spans.op = idx
        self.spark.sparkContext.setJobGroup(f"op-{idx}", f"{kind}:{name}")
        mark = self.counters.job_mark() if self.traced else 0
        t0 = time.perf_counter()
        try:
            with self.spans.span("op", kind=kind, label=name):
                yield rec
        except Exception as exc:  # a failing operation must not end the run
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            rec["latency"] = time.perf_counter() - t0
        if self.traced:
            rec["counters"] = self.counters.collect(mark, self.counters.job_mark())

    def catalyst(self, df, rec: dict) -> None:
        """Traced run only: plan ``df`` and keep its Catalyst phase times."""
        if not self.traced:
            return
        with self.spans.span("catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            rec[f"catalyst.{phase}_s"] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0


def timed_passes(bench: Bench, seconds: float, one_pass, min_passes: int) -> float:
    """Run whole passes (for ``ingest``, single batches), at least
    ``min_passes`` of them, until ``seconds`` have elapsed; returns the
    elapsed time."""
    bench.timed = True
    t0 = time.perf_counter()
    for done in itertools.count(1):
        one_pass()
        if done >= min_passes and time.perf_counter() - t0 >= seconds:
            break
    bench.timed = False
    return time.perf_counter() - t0


# ---------------------------------------------------------------- queries


def run_queries(bench: Bench, names: list[str], fixture_dir: str, rng, seconds: float):
    """Warm-up passes (the first with oracle checks), then timed passes;
    returns (warm-up seconds, timed seconds, {query: check failure})."""
    spark = bench.spark
    specs = all_specs()
    con = oracle.connect(fixture_dir, TABLES)
    bad: dict[str, str] = {}
    warm = 0.0
    for name in rng.sample(names, len(names)):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            got = specs[name].build(spark, fixture_dir).toPandas()
        except Exception as exc:
            warm += time.perf_counter() - t0
            bad[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        dt = time.perf_counter() - t0
        warm += dt
        t1 = time.perf_counter()
        if specs[name].oracle is None:
            if not len(got):
                bad[name] = "no oracle, and the output is empty"
        else:
            diff = oracle.compare(got, con.execute(specs[name].oracle).fetchdf())
            if diff:
                bad[name] = diff
        bench.warmup[name] = {"run_s": dt, "rows": len(got), "check_s": time.perf_counter() - t1}
    spark.catalog.clearCache()

    def one_pass() -> None:
        for name in rng.sample(names, len(names)):
            spark.catalog.clearCache()
            with bench.op("query", name) as rec:
                with bench.spans.span("plans.build"):
                    j0 = bench.counters.job_mark() if bench.traced else 0
                    df = specs[name].build(spark, fixture_dir)
                    if bench.traced:
                        rec["build_jobs"] = bench.counters.job_mark() - j0
                bench.catalyst(df, rec)
                with bench.spans.span("execute"):
                    df.write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    for _ in range(RELATIONAL_WARMUP_PASSES - 1):
        one_pass()
    warm += time.perf_counter() - t0
    elapsed = timed_passes(bench, seconds, one_pass, RELATIONAL_PASSES)
    return warm, elapsed, bad


# ----------------------------------------------------------------- ingest


class Ingest:
    """The reference pipeline, batch after batch, on one table set.

    Each batch is one CLI run in test mode (zero-latency stub transport),
    loaded through the ``jsonl_warehouse`` two-phase commit and merged
    into the parquet warehouse table on ``id``. The seed picks the id
    offset and the watermark rewinds that make about a tenth of rows
    arrive twice (at-least-once delivery).
    """

    def __init__(self, bench: Bench, rng: random.Random) -> None:
        self.bench = bench
        self.rng = rng
        self.dir = bench.work / "ingest"
        self.dir.mkdir()
        self.state = self.dir / "last_repo_id.txt"
        self.merged = str(self.dir / "merged")
        self.stage = str(self.dir / "jsonl_warehouse")
        os.makedirs(self.stage)
        self.offset = rng.randrange(10**6, 10**9)
        self.state.write_text(str(self.offset))
        self.batches = 0
        self.timed_batches = 0
        self.rewind_at = self.rewind = 0
        self.rows_loaded = 0
        self.readme: dict[str, object] = {}
        bench.spark.dataSource.register(JsonlWarehouseDataSource)
        # the CLI reads its request budget and token from the environment
        os.environ["MAX_REQUESTS_PER_RUN"] = str(MAX_REQUESTS_PER_RUN)
        os.environ.pop("GITHUB_TOKEN", None)

    def watermark(self) -> int:
        return int(self.state.read_text().strip())

    def warm_up(self) -> None:
        """The warm-up batches, each with its README queries, and one
        compaction, before the clock."""
        for pages in WARMUP_PAGES:
            self.batch(0, pages)
            self.readme_queries()
        self.compact()

    def step(self) -> None:
        """One timed batch followed by the README queries; every second
        batch is also followed by a compaction. In each pair of batches
        the seed picks which one first rewinds the watermark, and by how
        much: about a tenth of the pair's rows arrive twice."""
        k = self.timed_batches % BATCHES_PER_COMPACTION
        if k == 0:
            self.rewind_at = self.rng.randrange(BATCHES_PER_COMPACTION)
            self.rewind = int(
                BATCHES_PER_COMPACTION * BATCH_ROWS * REDELIVERED_SHARE * self.rng.uniform(0.9, 1.1)
            )
        self.timed_batches += 1
        self.batch(self.rewind if k == self.rewind_at else 0)
        self.readme_queries()
        if k == BATCHES_PER_COMPACTION - 1:
            self.compact()

    def batch(self, rewind: int, pages: int = PAGES_PER_BATCH) -> None:
        spark, spans = self.bench.spark, self.bench.spans
        self.batches += 1
        since = max(self.offset, self.watermark() - rewind)
        self.state.write_text(str(since))
        sink = str(self.dir / f"sink_{self.batches:04d}")
        argv = [
            "--test-mode", "--n-repos", str(since + pages * 100),
            "--max-pages", str(pages), "--sink", sink, "--state", str(self.state),
        ]
        before = table_rows(self.merged) if self.bench.traced else 0
        with self.bench.op("batch", f"batch_{self.batches}") as rec:
            with spans.span("pipeline.github.run") as s:
                if self.bench.traced:
                    s["jobs0"] = self.bench.counters.job_mark()
                quiet = io.StringIO()
                with contextlib.redirect_stdout(quiet), contextlib.redirect_stderr(quiet):
                    summary = cli.run(argv, spark=spark)
                if self.bench.traced:
                    s["jobs1"] = self.bench.counters.job_mark()
            rec["since"], rec["watermark"] = since, summary["new_watermark"]
            rec["detail_rows"] = summary["valid_count"] + summary["invalid_count"]
            batch = spark.read.parquet(sink).drop("year", "month", "day")
            with spans.span("sources.warehouse_sink.load"):
                files0 = len(load_manifest(self.stage)["files"])
                batch.write.format("jsonl_warehouse").option("path", self.stage).mode(
                    "append"
                ).save()
                rec["files_committed"] = len(load_manifest(self.stage)["files"]) - files0
            self.rows_loaded += summary["valid_count"]
            sinks.merge_into_warehouse(
                spark, batch, self.merged, key="id", version_col="updated_at"
            )
            if self.bench.traced:
                after = table_rows(self.merged)
                rec["merge_write_amp"] = after / max(after - before, 1)

    def compact(self) -> None:
        with self.bench.op("compact", "compact_table"):
            sinks.compact_table(self.bench.spark, self.merged, sort_cols=["id"])

    def readme_queries(self) -> None:
        spark = self.bench.spark
        for name, sql in README_QUERIES.items():
            with self.bench.op("read", name) as rec:
                spark.read.parquet(self.merged).createOrReplaceTempView("repos")
                df = spark.sql(sql)
                self.bench.catalyst(df, rec)
                self.readme[name] = df.collect()

    def check(self) -> dict[str, str]:
        """Ingest invariants on the final tables; {check: failure}."""
        bad = {}
        ids = pq.read_table(self.merged, columns=["id"]).column("id").to_numpy()
        diff = oracle.check_ids(ids, self.offset, self.watermark())
        if diff:
            bad["merged_ids"] = diff
        n_rows = load_manifest(self.stage)["n_rows"]
        if n_rows != self.rows_loaded:
            bad["warehouse_manifest"] = f"manifest n_rows {n_rows} != {self.rows_loaded} loaded"
        con = oracle.connect(self.dir, [])
        con.execute(f"CREATE VIEW repos AS SELECT * FROM '{self.merged}/*.parquet'")
        for name, sql in README_QUERIES.items():
            if name not in self.readme:
                bad[name] = "the query never returned"
                continue
            got = pd.DataFrame([r.asDict() for r in self.readme[name]])
            diff = oracle.compare(got, con.execute(sql).fetchdf())
            if diff:
                bad[name] = diff
        return bad


def parquet_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def table_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(".")
    )


def run_ingest(bench: Bench, rng, seconds: float):
    if bench.traced:
        wrap = bench.spans.wrap
        wrap(github, "list_scan_df", "sources.rest.list_scan")
        wrap(github, "incremental_extract", "pipeline.github.extract")
        wrap(sinks, "partitioned_append", "sources.sinks.append")
        wrap(sinks, "write_run_metrics", "sources.sinks.metrics_write")
        wrap(sinks, "merge_into_warehouse", "sources.sinks.merge")
        wrap(sinks, "compact_table", "sources.sinks.compact")
    ingest = Ingest(bench, rng)
    t0 = time.perf_counter()
    ingest.warm_up()
    warm = time.perf_counter() - t0
    bad = ingest.check()
    rows0 = table_rows(ingest.merged)
    elapsed = timed_passes(bench, seconds, ingest.step, INGEST_BATCHES)
    rows_merged = table_rows(ingest.merged) - rows0
    bad.update(ingest.check())
    return warm, elapsed, bad, ingest, rows_merged


# ---------------------------------------------------------------- metrics


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found for the Spark JVM")


def count_failures(ops: list[dict], bad: dict[str, str], ingest: bool) -> int:
    """Operations that raised, plus every operation a failed check covers:
    a query whose output disagreed with its oracle fails on every run of
    it; a failed ingest invariant fails every batch (or README query)."""
    failed = 0
    for rec in ops:
        hit = rec["name"] in bad or (
            ingest and rec["kind"] == "batch" and ("merged_ids" in bad or "warehouse_manifest" in bad)
        )
        failed += bool(rec["error"] or hit)
    return failed


def end_to_end(bench, workload, setup_s, elapsed, bad, ingest=None, rows_merged=0):
    ops = [r for r in bench.ops if r["timed"]]
    primary = "batch" if workload == "ingest" else "query"
    lat = summarize([r["latency"] for r in ops if r["kind"] == primary and not r["error"]])
    failed = count_failures(ops, bad, workload == "ingest")
    samples = {"latency": lat.as_dict()}
    report = {
        "setup_s": setup_s,
        "ops_per_s": sum(r["kind"] == primary for r in ops) / elapsed,
        "latency_p50_s": lat.p50,
        "latency_p90_s": lat.p90,
        "failed_ratio": failed / len(ops),
        "peak_rss_mb": jvm_peak_rss_mb(bench.spark),
        "timed_s": elapsed,
    }
    if ingest is not None:
        reads = summarize([r["latency"] for r in ops if r["kind"] == "read" and not r["error"]])
        distinct = table_rows(ingest.merged)
        samples["read_latency"] = reads.as_dict()
        report.update(
            rows_per_s=rows_merged / elapsed,
            read_latency_p50_s=reads.p50,
            stored_bytes_per_row=(dir_bytes(ingest.merged) + dir_bytes(ingest.stage)) / distinct,
        )
    return report, samples, len(ops), failed


# End-to-end metrics on the result line. The report line also carries
# latency_p90_s, failed_ratio, peak_rss_mb and the ingest read/storage
# metrics. peak_rss_mb has no bound: it follows the G1 heap capacity,
# which doubles in steps timed by GC overhead (see README.md).
GATED_E2E = ("latency_p50_s", "ops_per_s", "setup_s")
E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_s": "s", "latency_p90_s": "s",
    "failed_ratio": "ratio", "peak_rss_mb": "MB", "rows_per_s": "rows/s",
    "read_latency_p50_s": "s", "stored_bytes_per_row": "B", "timed_s": "s",
}


def per_layer(bench: Bench, session_s: float, warm_s: float, listener, ingest) -> dict:
    """Per-operation means over the timed phase, plus run-level values."""
    ops = [(i, r) for i, r in enumerate(bench.ops) if r["timed"]]
    n = max(len(ops), 1)
    selft = bench.spans.self_time()
    spans = [s for s in bench.spans.spans if s["end"] is not None]
    ids = {i for i, _ in ops}

    def mean(values) -> float:
        values = list(values)
        return sum(values) / len(values) if values else 0.0

    def c(key):
        return sum(r["counters"].get(key, 0) for _, r in ops) / n

    def span_mean(name, self_only=False):
        xs = [s for s in spans if s["name"] == name and s["op"] in ids]
        return mean(selft[s["id"]] if self_only else s["end"] - s["start"] for s in xs)

    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m["session.start_s"] = session_s
    m["session.warmup_s"] = warm_s
    queries = [r for _, r in ops if r["kind"] == "query"]
    m["plans.build_s"] = span_mean("plans.build")
    m["plans.build_jobs"] = mean(r.get("build_jobs", 0) for r in queries)
    planned = [r for _, r in ops if "catalyst.analysis_s" in r]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = mean(r[f"catalyst.{phase}_s"] for r in planned)
    m["scheduler.jobs"] = c("jobs")
    m["scheduler.stages"] = c("stages")
    m["scheduler.tasks"] = c("tasks")
    m["scheduler.driver_gap_s"] = mean(
        r["latency"] - covered(r["counters"]["job_intervals"]) for _, r in ops
    )
    m["executor.run_s"] = c("executorRunTime") / 1e3
    m["executor.cpu_s"] = c("executorCpuTime") / 1e9
    m["executor.gc_s"] = c("jvmGcTime") / 1e3
    m["executor.deserialize_s"] = c("executorDeserializeTime") / 1e3
    m["executor.peak_mem_mb"] = max(
        (r["counters"]["peakExecutionMemory"] for _, r in ops), default=0
    ) / 2**20
    m["catalog.input_bytes"] = c("inputBytes")
    m["catalog.input_rows"] = c("inputRecords")
    m["shuffle.write_bytes"] = c("shuffleWriteBytes")
    m["shuffle.read_bytes"] = c("shuffleLocalBytesRead") + c("shuffleRemoteBytesRead")
    m["shuffle.write_s"] = c("shuffleWriteTime") / 1e9
    m["shuffle.fetch_wait_s"] = c("shuffleFetchWaitTime") / 1e3
    m["shuffle.spill_bytes"] = c("diskBytesSpilled")
    for key in ("python.run_s", "python.start_s", "python.bytes_sent", "python.bytes_returned"):
        m[key] = c(key)
    if ingest is not None:
        batches = [r for _, r in ops if r["kind"] == "batch"]
        m["sources.rest.list_scan_s"] = span_mean("sources.rest.list_scan")
        m["sources.rest.list_rows"] = mean(r["watermark"] - r["since"] for r in batches)
        m["sources.rest.detail_rows"] = mean(r["detail_rows"] for r in batches)
        m["sources.rest.detail_yield"] = m["sources.rest.detail_rows"] / max(
            m["sources.rest.list_rows"], 1
        )
        m["pipeline.github.extract_s"] = span_mean("pipeline.github.extract")
        m["pipeline.github.materialize_s"] = span_mean("pipeline.github.run", self_only=True)
        m["pipeline.github.jobs_per_batch"] = mean(
            s["jobs1"] - s["jobs0"] for s in spans
            if s["name"] == "pipeline.github.run" and s["op"] in ids
        )
        m["sources.sinks.append_s"] = span_mean("sources.sinks.append")
        m["sources.sinks.metrics_write_s"] = span_mean("sources.sinks.metrics_write")
        m["sources.sinks.merge_s"] = span_mean("sources.sinks.merge")
        m["sources.sinks.merge_write_amp"] = mean(r["merge_write_amp"] for r in batches)
        m["sources.sinks.compact_s"] = span_mean("sources.sinks.compact")
        m["sources.sinks.files"] = len(parquet_files(ingest.merged))
        m["sources.warehouse_sink.load_s"] = span_mean("sources.warehouse_sink.load")
        m["sources.warehouse_sink.files_committed"] = mean(r["files_committed"] for r in batches)
        m["sources.warehouse_sink.bytes_per_row"] = dir_bytes(ingest.stage) / max(
            load_manifest(ingest.stage)["n_rows"], 1
        )
    if listener is not None:
        ev = [e for e in listener.events if e["op"] in ids]
        by_op = {i: [e for e in ev if e["op"] == i] for i in ids}
        m["streaming.triggers"] = len(ev) / n
        m["streaming.add_batch_s"] = sum(e["add_batch_ms"] for e in ev) / 1e3 / n
        m["streaming.planning_s"] = sum(e["planning_ms"] for e in ev) / 1e3 / n
        m["streaming.commit_s"] = sum(e["commit_ms"] for e in ev) / 1e3 / n
        m["streaming.input_rows"] = sum(e["input_rows"] for e in ev) / n
        m["streaming.state_rows"] = mean(max((e["state_rows"] for e in es), default=0) for es in by_op.values())
        m["streaming.state_mem_mb"] = mean(
            max((e["state_mem"] for e in es), default=0) for es in by_op.values()
        ) / 2**20
    return m


# ------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True, help="working directory for this run")
    p.add_argument("--trace-out", help="where the traced run writes its spans")
    args = p.parse_args(argv)
    work = Path(args.work)
    traced = bool(args.trace)
    rng = random.Random(args.seed)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    bench = Bench(spark, traced, work)
    listener = None
    if traced and args.workload == "relational":
        listener = ProgressListener(bench.spans)
        spark.streams.addListener(listener)

    ingest = None
    rows_merged = 0
    fixture = {}
    if args.workload == "ingest":
        warm, elapsed, bad, ingest, rows_merged = run_ingest(bench, rng, args.seconds)
    else:
        t0 = time.perf_counter()
        fixture_dir = str(work / "fixture")
        fixture["rows"] = fixtures.write(fixture_dir, FIXTURE_SCALE)
        fixture["generate_s"] = time.perf_counter() - t0
        warm, elapsed, bad = run_queries(bench, RELATIONAL, fixture_dir, rng, args.seconds)
    setup_s = session_s + warm
    report, samples, attempted, failed = end_to_end(
        bench, args.workload, setup_s, elapsed, bad, ingest, rows_merged
    )
    errors = {r["name"]: r["error"] for r in bench.ops if r["error"]}
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "fixture": fixture,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in report.items()},
        "samples": samples,
        "check_failures": bad,
        "op_errors": errors,
        "warmup": bench.warmup,
    }
    if traced:
        layers = per_layer(bench, session_s, warm, listener, ingest)
        metrics = {k: {"value": layers[k], "unit": u} for k, (u, _) in LAYER_METRICS.items()}
        if args.trace_out:
            bench.spans.dump(args.trace_out)
            info["spans_file"] = args.trace_out
    else:
        metrics = {k: {"value": report[k], "unit": E2E_UNITS[k]} for k in GATED_E2E}
    info["per_query_median_s"] = per_query_medians(bench)
    print(json.dumps({"report": info}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    sys.stdout.flush()
    spark.stop()
    return 0


def per_query_medians(bench: Bench) -> dict[str, float]:
    names = sorted({r["name"] for r in bench.ops if r["timed"]})
    return {
        n: statistics.median(r["latency"] for r in bench.ops if r["timed"] and r["name"] == n)
        for n in names
    }


if __name__ == "__main__":
    sys.exit(main())

"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code, around each call into
an engine layer; they are kept in memory and written out when the run
ends. Spark's own counters come from three places, all read after an
operation and outside its clock:

- the job-id window of the operation (``DAGScheduler.numTotalJobs``
  before and after; the operation also runs under its own job group, but
  streaming queries replace the group with their run id),
- the UI REST API (jobs, stages and SQL-node metrics; on Spark 4.1 the
  SQL nodes expose the data sent to and returned from Python workers),
- a ``StreamingQueryListener`` for each trigger's progress.
"""

from __future__ import annotations

import functools
import json
import re
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from stats import self_times


class Spans:
    """In-memory span recorder. ``op`` is the id of the operation that
    the spans belong to; spans nest through ``span`` context managers."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that records a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def self_time(self) -> dict[int, float]:
        return self_times([s for s in self.spans if s["end"] is not None])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def sql_metric_value(text: str) -> float:
    """Parse a SQL UI metric string to base units (bytes or seconds).

    Plain sums read ``"1,234"``; size and timing metrics read
    ``"total (min, med, max (stageId: taskId))\\n1.2 MiB (...)"``, whose
    total is the first value on the second line.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# Per-layer metrics of the traced run: name -> (unit, which way is better).
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "scheduler.jobs": ("count", "lower"),
    "scheduler.stages": ("count", "lower"),
    "scheduler.tasks": ("count", "lower"),
    "scheduler.driver_gap_s": ("s", "lower"),
    "executor.run_s": ("s", "lower"),
    "executor.cpu_s": ("s", "lower"),
    "executor.gc_s": ("s", "lower"),
    "executor.deserialize_s": ("s", "lower"),
    "executor.peak_mem_mb": ("MB", "lower"),
    "catalog.input_bytes": ("B", "lower"),
    "catalog.input_rows": ("rows", "lower"),
    "shuffle.write_bytes": ("B", "lower"),
    "shuffle.read_bytes": ("B", "lower"),
    "shuffle.write_s": ("s", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "shuffle.spill_bytes": ("B", "lower"),
    "python.run_s": ("s", "lower"),
    "python.start_s": ("s", "lower"),
    "python.bytes_sent": ("B", "lower"),
    "python.bytes_returned": ("B", "lower"),
    "sources.rest.list_scan_s": ("s", "lower"),
    "sources.rest.list_rows": ("rows", "higher"),
    "sources.rest.detail_rows": ("rows", "higher"),
    "sources.rest.detail_yield": ("ratio", "higher"),
    "pipeline.github.extract_s": ("s", "lower"),
    "pipeline.github.materialize_s": ("s", "lower"),
    "pipeline.github.jobs_per_batch": ("count", "lower"),
    "sources.sinks.append_s": ("s", "lower"),
    "sources.sinks.metrics_write_s": ("s", "lower"),
    "sources.sinks.merge_s": ("s", "lower"),
    "sources.sinks.merge_write_amp": ("ratio", "lower"),
    "sources.sinks.compact_s": ("s", "lower"),
    "sources.sinks.files": ("count", "lower"),
    "sources.warehouse_sink.load_s": ("s", "lower"),
    "sources.warehouse_sink.files_committed": ("count", "lower"),
    "sources.warehouse_sink.bytes_per_row": ("B", "lower"),
    "streaming.triggers": ("count", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.planning_s": ("s", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "streaming.input_rows": ("rows", "higher"),
    "streaming.state_rows": ("rows", "lower"),
    "streaming.state_mem_mb": ("MB", "lower"),
}

PYTHON_SQL_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
}


class SparkCounters:
    """Per-operation Spark counters from the scheduler and the UI REST API."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._bus = self.sc._jsc.sc().listenerBus()

    def job_mark(self) -> int:
        return int(self._dag.numTotalJobs())

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read().decode())

    def collect(self, first_job: int, end_job: int) -> dict:
        """Counters of jobs ``[first_job, end_job)``: one operation."""
        self._bus.waitUntilEmpty(30_000)
        ids = set(range(first_job, end_job))
        out = {"jobs": len(ids), "job_intervals": [], "stages": 0, "tasks": 0}
        if not ids:
            return out
        stage_ids: set[int] = set()
        for job in self._get("/jobs"):
            if job["jobId"] in ids:
                stage_ids.update(job["stageIds"])
                if job.get("submissionTime") and job.get("completionTime"):
                    out["job_intervals"].append(
                        (_epoch(job["submissionTime"]), _epoch(job["completionTime"]))
                    )
        sums = dict.fromkeys(
            (
                "executorRunTime", "executorCpuTime", "jvmGcTime",
                "executorDeserializeTime", "inputBytes", "inputRecords",
                "shuffleWriteBytes", "shuffleWriteTime", "shuffleFetchWaitTime",
                "shuffleLocalBytesRead", "shuffleRemoteBytesRead",
                "memoryBytesSpilled", "diskBytesSpilled",
            ),
            0,
        )
        peak = 0
        for st in self._get("/stages?details=false"):
            if st["stageId"] not in stage_ids or st.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
            for k in sums:
                sums[k] += st.get(k, 0) or 0
            peak = max(peak, st.get("peakExecutionMemory", 0) or 0)
        out.update(sums)
        out["peakExecutionMemory"] = peak
        py = dict.fromkeys(PYTHON_SQL_METRICS.values(), 0.0)
        # the SQL endpoint pages its list, 20 executions by default
        for ex in self._get("/sql?details=true&planDescription=false&length=1000000"):
            jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not jobs & ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = PYTHON_SQL_METRICS.get(m["name"])
                    if key:
                        py[key] += sql_metric_value(m["value"])
        out.update(py)
        return out


def _epoch(ts: str) -> float:
    """UI timestamps look like ``2026-10-17T02:37:02.123GMT``."""
    from datetime import datetime, timezone

    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects each trigger's progress, tagged with the current op."""

    def __init__(self, spans: Spans) -> None:
        self.spans = spans
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        states = p.stateOperators or []
        self.events.append(
            {
                "op": self.spans.op,
                "add_batch_ms": d.get("addBatch", 0),
                "planning_ms": d.get("queryPlanning", 0),
                "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in states),
                "state_mem": sum(s.memoryUsedBytes for s in states),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

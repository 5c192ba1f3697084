"""CLI entry point (`python -m ag_data_ingestion_github_to_snowflake_spark`),
mirroring the reference's main() flags (extract_github_data.py:769-792):
--test-mode / --use-cache / --skip-upload."""

from __future__ import annotations

import json
import os

from ag_data_ingestion_github_to_snowflake_spark.__main__ import build_parser, run
from ag_data_ingestion_github_to_snowflake_spark.sources import stub


def partition_leaves(sink: str) -> list[str]:
    """The sink's ``year=/month=/day=`` directories that hold files."""
    return sorted(
        os.path.relpath(d, sink) for d, subdirs, _ in os.walk(sink) if not subdirs
    )


def test_parser_mirrors_reference_flags():
    args = build_parser().parse_args(
        ["--test-mode", "--use-cache", "--skip-upload"]
    )
    assert args.test_mode and args.use_cache and args.skip_upload


def test_cli_end_to_end_test_mode(spark, tmp_path, capsys):
    # 50 repos fit inside one unauthenticated 60-request budget, so a
    # single run drains the universe and the second run is a no-op
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "state" / "last_repo_id.txt")
    summary = run(
        [
            "--test-mode",
            "--n-repos",
            "50",
            "--sink",
            sink,
            "--state",
            state,
        ],
        spark=spark,
    )
    assert summary["success"] and summary["uploaded"]
    assert summary["valid_count"] > 0
    assert summary["new_watermark"] > 0
    # stdout is exactly one JSON line (machine-readable run summary)
    out = capsys.readouterr().out.strip().splitlines()
    assert json.loads(out[-1]) == summary
    # sink is a readable date-partitioned table
    back = spark.read.parquet(sink)
    assert back.count() == summary["valid_count"]
    assert {"year", "month", "day"} <= set(back.columns)
    # watermark persisted for the next incremental run
    assert int(open(state).read()) == summary["new_watermark"]
    # _run_metrics counts what the run did: ids 1-50, of which 19 and 38
    # 404, 13/26/39 lack a description and 17/34 a language; one list
    # page plus 50 detail lookups
    (metrics,) = spark.read.parquet(sink + "_run_metrics").collect()
    counters = metrics.asDict()
    run_ts = counters.pop("extraction_date")
    assert counters == {
        "total_processed": 48,
        "valid_count": 43,
        "invalid_count": 5,
        "start_repo_id": 1,
        "last_repo_id": 50,
        "api_calls": 51,
        "cache_hits": 0,
        "test_mode": True,
    }
    # one run appends under one run-date partition, the metrics row's date
    assert partition_leaves(sink) == [run_ts.strftime("year=%Y/month=%m/day=%d")]

    # second run resumes past the watermark: no repos left -> no upload
    summary2 = run(
        ["--test-mode", "--n-repos", "50", "--sink", sink, "--state", state],
        spark=spark,
    )
    assert summary2["valid_count"] == 0 and not summary2["uploaded"]
    assert len(partition_leaves(sink)) == 1
    assert spark.read.parquet(sink + "_run_metrics").count() == 1


class LoggingStub(stub.StubTransport):
    """Appends every detail lookup to a file, from whichever process
    makes it (the enrichment runs in Python workers)."""

    def __init__(self, n_repos: int, log: str):
        super().__init__(n_repos)
        self.log = log

    def __call__(self, path: str, params: dict):
        if path.startswith("/repos/"):
            with open(self.log, "a") as f:
                f.write(path + "\n")
        return super().__call__(path, params)


def test_cli_batch_is_one_pass(spark, tmp_path, monkeypatch):
    """One CLI batch runs 4 Spark jobs: the list frame's round-robin
    shuffle to the enrichment width, enrichment up to the dedupe
    shuffle, the sink write with the counters observed on it, and the
    one-row metrics write. No count, persist or metrics aggregate, and
    each detail is looked up once."""
    log = str(tmp_path / "lookups.txt")
    monkeypatch.setattr(stub, "StubTransport", lambda n_repos: LoggingStub(n_repos, log))
    sc = spark.sparkContext
    assert sc.defaultParallelism > 1  # else the list frame needs no shuffle
    sc.setJobGroup("cli-one-pass", "one CLI batch")
    try:
        summary = run(
            [
                "--test-mode", "--n-repos", "50",
                "--sink", str(tmp_path / "sink"), "--state", str(tmp_path / "wm.txt"),
            ],
            spark=spark,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert summary["uploaded"]
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert len(sc.statusTracker().getJobIdsForGroup("cli-one-pass")) == 4
    lookups = open(log).read().split()
    assert sorted(lookups) == sorted(f"/repos/owner{i % 7}/repo-{i}" for i in range(1, 51))


def test_cli_all_invalid_first_batch_leaves_no_sink(spark, tmp_path):
    """A first batch without a valid row (id 13 has no description)
    must not leave a sink holding only ``_SUCCESS``: the next
    ``--use-cache`` run could not infer its schema."""
    sink = str(tmp_path / "sink")
    state = tmp_path / "wm.txt"
    state.write_text("12")
    argv = ["--test-mode", "--n-repos", "13", "--sink", sink, "--state", str(state)]
    summary = run(argv, spark=spark)
    assert summary["valid_count"] == 0 and summary["invalid_count"] == 1
    assert not summary["uploaded"]
    assert not os.path.exists(sink) and not os.path.exists(sink + "_run_metrics")
    assert int(state.read_text()) == 13

    summary = run([*argv, "--use-cache"], spark=spark)
    assert summary["valid_count"] == summary["invalid_count"] == 0
    assert summary["new_watermark"] == 13


def test_cli_skip_upload_advances_watermark_without_sink(spark, tmp_path):
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "wm.txt")
    summary = run(
        [
            "--test-mode",
            "--n-repos",
            "60",
            "--skip-upload",
            "--sink",
            sink,
            "--state",
            state,
        ],
        spark=spark,
    )
    assert summary["valid_count"] > 0 and not summary["uploaded"]
    assert not os.path.exists(sink)
    assert int(open(state).read()) == summary["new_watermark"]


def test_cli_use_cache_seeds_watermark_from_sink(spark, tmp_path):
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "wm.txt")
    run(
        ["--test-mode", "--n-repos", "50", "--sink", sink, "--state", state],
        spark=spark,
    )
    # wipe the state file: --use-cache must recover the cursor from the
    # bronze/sink table instead of refetching from id 0 (A3 semantics)
    os.remove(state)
    summary = run(
        [
            "--test-mode",
            "--n-repos",
            "50",
            "--use-cache",
            "--sink",
            sink,
            "--state",
            state,
        ],
        spark=spark,
    )
    assert summary["valid_count"] == 0  # nothing past the cached max id

"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest

import oracle
from stats import covered, percentile, self_times, summarize, tail_percentile

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize(
    ("n", "pct"),
    [(5, None), (10, None), (11, None), (19, None), (20, 52), (40, 76), (100, 90), (101, 90), (200, 95)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        xs = list(range(n))
        assert sum(x > percentile(xs, pct) for x in xs) >= 10
        assert sum(x > percentile(xs, pct + 1) for x in xs) < 10


def test_summary_reports_sample_count_and_p90_only_when_supported():
    few = summarize([1.0] * 30 + [2.0] * 10)
    assert (few.n, few.p50, few.tail_pct, few.p90) == (40, 1.0, 76, None)
    many = summarize([float(i) for i in range(100)])
    assert many.n == 100 and many.tail_pct == 90
    assert many.p90 == pytest.approx(89.1)
    assert many.as_dict()["samples"] == 100


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert covered([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_subtracts_nested_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": None, "start": 20.0, "end": 21.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4)  # children cover [1, 5]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(1)


def _stub_survivors(lo: int, hi: int) -> list[int]:
    """Ids the stub transport lets through: detail lookup answers 200
    and every required field is present."""
    from ag_data_ingestion_github_to_snowflake_spark.sources.stub import StubTransport

    stub = StubTransport(n_repos=hi)
    keep = []
    for row in stub("/repositories", {"since": lo, "per_page": hi - lo})[1]:
        status, rec = stub(f"/repos/{row['owner']['login']}/{row['name']}", {})
        if status == 200 and rec["description"] is not None and rec["language"] is not None:
            keep.append(rec["id"])
    return keep


def test_expected_ids_follow_the_stub_rules():
    lo, hi = 1_000_000, 1_004_950
    want = oracle.expected_ids(lo, hi)
    assert want.tolist() == _stub_survivors(lo, hi)
    assert 0.82 < len(want) / (hi - lo) < 0.83  # (12/13)(16/17)(18/19)


def test_check_ids_catches_loss_and_duplicates():
    ids = oracle.expected_ids(0, 500)
    assert oracle.check_ids(ids[::-1], 0, 500) is None
    assert "missing" in oracle.check_ids(ids[1:], 0, 500)
    assert "duplicate" in oracle.check_ids(np.append(ids, ids[0]), 0, 500)
    assert "unexpected" in oracle.check_ids(np.append(ids, 13), 0, 500)


def test_sql_metric_values_parse_to_base_units():
    from tracing import sql_metric_value

    assert sql_metric_value("1,234") == 1234
    assert sql_metric_value("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)") == 2048
    assert sql_metric_value("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, ...)") == 1.5
    assert sql_metric_value("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)") == 0.25


def test_benchmark_json_names_the_metrics_the_runs_print():
    from bench import GATED_E2E
    from tracing import LAYER_METRICS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == LAYER_METRICS
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert e2e == set(GATED_E2E)
    assert {w["name"] for w in spec["workloads"]} == {"ingest", "relational"}

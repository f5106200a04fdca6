"""Self-test of the submission benchmark.

Every workload runs end to end at a small size, untraced and traced, so a
change to the engine's public API fails here instead of skewing the
numbers. Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.tracing import Span, _subtract, classify_write, per_layer_names, span_metrics
from perfbench.workloads import WORKLOADS

CHECKOUT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((CHECKOUT / "BENCHMARK.json").read_text())


def _bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("traced", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_is_correct_and_prints_every_metric(workload, traced):
    proc = _bench(
        CHECKOUT, "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(traced), "--scale", "0.05",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    declared = BENCHMARK["per_layer" if traced else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }


def test_benchmark_json_lists_every_per_layer_metric():
    assert [m["name"] for m in BENCHMARK["per_layer"]] == per_layer_names()
    benchmarked = {w["name"] for w in BENCHMARK["workloads"]}
    assert benchmarked <= set(WORKLOADS)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(CHECKOUT / "BENCHMARK.json", tmp_path)
    shutil.copytree(
        CHECKOUT / "perfbench", tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _bench(
        tmp_path, "--workload", "landing_batch", "--seed", "1", "--seconds", "1",
        "--trace", "0",
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_writes_are_classified_by_their_first_output_segment():
    assert classify_write("/w/call_000/transform/lineitem") == "transform"
    assert classify_write("/w/call_000/errors/business_rules") == "errors"
    assert classify_write("/w/call_000/errors/data_contract") == "errors"
    assert classify_write("/w/call_000/business_rules/order_totals") == "business_rules"
    assert classify_write("/w/call_000/audit/error_aggregates.parquet") == "audit"
    assert classify_write("/w/call_000/elsewhere") == "other"


def test_self_time_subtracts_the_union_of_children():
    assert _subtract([(0.0, 10.0)], [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == [
        (0.0, 1.0), (4.0, 8.0),
    ]
    spans = [
        Span(0, "pipeline.landing", "pipeline", None, None, 0.0, 10.0),
        Span(1, "pipeline.run", "pipeline", 0, "a", 1.0, 6.0),
        Span(2, "pipeline.run", "pipeline", 0, "b", 2.0, 7.0),
        Span(3, "sources.read", "sources", 1, "a", 1.0, 2.0),
        Span(4, "steps.evaluate", "steps", 2, "b", 3.0, 4.0),
        Span(5, "steps.evaluate", "steps", 4, "b", 3.2, 3.5),
    ]
    metrics = span_metrics(spans)
    assert metrics["pipeline.landing_s"] == pytest.approx(4.0)
    assert metrics["pipeline.self_s"] == pytest.approx(4.0 + 4.0)
    # a nested call of the same layer function counts once
    assert metrics["steps.evaluate_s"] == pytest.approx(1.0)
    assert metrics["steps.evaluate_calls"] == 1

"""Tiny-scale runs of every workload through the command line, as the
benchmark is run, plus the run that must fail without the engine.

Each run starts a local Spark session, so this module takes a few
minutes; ``-k "not smoke"`` skips it.
"""

import json
import shutil
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

import pytest

from perfbench.metrics import CLASS_TIMES, COMMON_TIMES, PER_LAYER
from perfbench.spans import ROOT_SPAN

ROOT = Path(__file__).resolve().parents[2]
E2E = {m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]}


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "5", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["read_pruned", "ingest_churn", "metadata_history"])
def test_smoke_traced_run(workload):
    p = _run(ROOT, workload, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout
    assert set(result["metrics"]) == {name for name, _, _ in PER_LAYER}
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["error_rate"] == 0.0
    assert m["read.samples"] > 0 and m["write.samples"] > 0
    assert m["read.sql.calls"] > 0 or m["read.plan.files_live"] > 0

    # every span a statement opened is one its class reports, so the
    # class's self times plus trace.untraced_ms add up to its latency
    spans = [json.loads(line) for line in
             (ROOT / ".perfbench_out" / f"spans-{workload}-7.jsonl").read_text().splitlines()]
    reported = {cls: {span for _, span in COMMON_TIMES + CLASS_TIMES[cls]}
                for cls in CLASS_TIMES}
    opened = defaultdict(set)
    for s in spans:
        opened[s["cls"]].add(s["name"])
    for cls, names in opened.items():
        assert names <= reported[cls], (cls, names - reported[cls])
        assert ROOT_SPAN in names


def test_smoke_untraced_run_reports_end_to_end_metrics():
    p = _run(ROOT, "ingest_churn", 0)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"], p.stdout
    assert set(result["metrics"]) == E2E
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert result["metrics"]["read_tail_ms"]["value"] >= result["metrics"]["read_p50_ms"]["value"]
    assert not (ROOT / ".perfbench_work").exists()


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "read_pruned", 0)
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())

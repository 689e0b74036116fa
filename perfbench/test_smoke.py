"""Smoke self-test of the benchmark on the sf0.001 fixtures.

- Every workload prints every metric named in ``BENCHMARK.json`` with
  its unit, untraced (end-to-end) and traced (per-layer), and no op
  fails.
- A different seed changes the query order and the appended files, but
  no answer hash.
- Without the engine's sources next to it, the benchmark exits
  non-zero without printing a result.

Run: ``python3 -m pytest perfbench/test_smoke.py -q`` (a few minutes:
each case starts its own JVM).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
REPORTS = ROOT / ".perfbench_work" / "reports"


_DONE: dict[tuple[str, int, int], tuple[dict, dict]] = {}


def bench(workload: str, seed: int, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def run_once(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """Result line and report of one run, made once per test session."""
    key = (workload, seed, trace)
    if key not in _DONE:
        out = result(bench(workload, seed, trace))
        rep = json.loads((REPORTS / f"{workload}-seed{seed}-trace{trace}-smoke.json").read_text())
        _DONE[key] = (out, rep)
    return _DONE[key]


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_and_no_failure(workload, trace):
    out, _ = run_once(workload, 1, trace)
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert out["failed"] == 0 and out["correct"] and out["attempted"] >= 1
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seed_changes_order_not_answers(workload):
    (_, a), (_, b) = run_once(workload, 1, 0), run_once(workload, 2, 0)
    assert a["answers"] == b["answers"]
    assert not any(v.startswith("FAILED") for v in a["answers"].values())
    if workload == "catalog-refresh":
        assert a["appended"] != b["appended"]
    else:
        assert a["check_order"] != b["check_order"]
        assert sorted(a["check_order"]) == sorted(b["check_order"])


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(WORKLOADS[0], 1, 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert not proc.stdout.strip()

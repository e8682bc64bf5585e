"""Smoke tests of the benchmark itself, at sf0.001 with a one-second window.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced with a corrupted expected result (every
end-to-end metric must still print, and the damage must show as one
failed op, not a crash) and once traced (every per-layer metric must
print, and every op must pass its check).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from run import END_TO_END, PER_LAYER, metric_sets  # noqa: E402

#: BENCHMARK.json lists the first two; txn_ingest is run by hand
WORKLOADS = ("sql_interactive", "operators_batch", "txn_ingest")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    return out


def test_spec_matches_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS[:2])
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v[0] for k, v in PER_LAYER.items()}
    assert {m["name"]: m["better"] for m in spec["per_layer"]} == {
        k: v[1] for k, v in PER_LAYER.items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_prints_every_metric_and_counts_a_bad_result(workload):
    out = _result(_run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--sf", "0.001", "--corrupt-expected"))
    end_to_end, _ = metric_sets(workload)
    assert {k: m["unit"] for k, m in out["metrics"].items()} == end_to_end
    assert all(m["value"] > 0 for m in out["metrics"].values())
    assert out["failed"] == 1 and out["correct"] is False


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_prints_every_layer_metric(workload):
    out = _result(_run(ROOT, "--workload", workload, "--seed", "4", "--seconds", "1",
                       "--trace", "1", "--sf", "0.001"))
    assert out["correct"] is True and out["failed"] == 0
    _, per_layer = metric_sets(workload)
    assert {k: m["unit"] for k, m in out["metrics"].items()} == {
        k: v[0] for k, v in per_layer.items()}


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "sql_interactive", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert not proc.stdout.strip()

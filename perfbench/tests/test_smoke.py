"""Smoke test of the benchmark itself at a tiny input size.

    python3 -m pytest perfbench/tests -q      (about two minutes)
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from spans import covered_s  # noqa: E402


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


def _declared(kind: str) -> set[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec[kind]}


@pytest.mark.parametrize("workload", ["transcript_filter", "corpus_chain"])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    r = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", "0", "--rows", "1500"))
    assert set(r["metrics"]) == _declared("end_to_end")
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_traced_run_reports_every_layer_and_accounts_for_its_wall():
    r = _result(_run("--workload", "transcript_filter", "--seed", "3", "--seconds", "1",
                     "--trace", "1", "--rows", "1500"))
    assert set(r["metrics"]) == _declared("per_layer")
    art = json.loads((BENCH / ".work" / "trace" / "transcript_filter-s3.json").read_text())
    acct = art["accounting"]
    layers = sum(v["wall_s"] for v in acct["layers"].values())
    assert abs(layers + acct["unattributed_s"] - acct["wall_s"]) < 1e-6
    assert acct["unattributed_s"] < 0.1 * acct["wall_s"]
    for v in acct["layers"].values():
        assert v["stage_s"] <= v["wall_s"] + 0.05
    names = {s["name"] for s in art["spans"]}
    assert {"operators.dedup.exact", "operators.packing.pack", "spark.vote"} <= names


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run("--workload", "transcript_filter", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_covered_s_merges_overlaps_and_clips():
    st = [{"start": 0.0, "end": 2.0}, {"start": 1.0, "end": 3.0}, {"start": 5.0, "end": 9.0}]
    assert covered_s(st, 0.0, 10.0) == 7.0
    assert covered_s(st, 2.5, 6.0) == 1.5

"""Tiny-size smoke test of the benchmark: every workload, both modes.

    python3 perfbench/smoke_test.py        # or: pytest perfbench/smoke_test.py

Each run uses ``--scale tiny`` (a few thousand rows), so the whole test
takes a few minutes. It requires every ground-truth check to pass and
the last stdout line to parse as the summary with every metric that
BENCHMARK.json names for the mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload: str, trace: int, seed: int = 7) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "2", "--trace",
         str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(summary) == {"correct", "attempted", "failed", "metrics"}
    assert summary["correct"] is True and summary["failed"] == 0, out.stderr
    assert summary["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    names = {m["name"] for m in _spec()[key]}
    assert names == set(summary["metrics"]), \
        names.symmetric_difference(summary["metrics"])
    for m in _spec()[key]:
        got = summary["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
    return summary


def test_workloads_untraced():
    for w in _spec()["workloads"]:
        s = run_once(w["name"], trace=0)
        assert s["metrics"]["files_per_sec"]["value"] > 0


def test_workloads_traced():
    for w in _spec()["workloads"]:
        s = run_once(w["name"], trace=1)
        assert abs(s["metrics"]["trace.coverage"]["value"] - 1.0) < 0.1


def test_refuses_without_program(tmp_path):
    """Without the program beside it the benchmark exits non-zero and
    prints no summary."""
    import shutil
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "json-skew",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and not out.stdout.strip()


if __name__ == "__main__":
    import tempfile
    import pathlib
    test_workloads_untraced()
    test_workloads_traced()
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) \
            as d:
        test_refuses_without_program(pathlib.Path(d))
    print("smoke test passed")

"""Self-tests of the benchmark at smoke sizes (not part of the package's
test suite; each Spark workload takes about a minute):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Tracer  # noqa: E402


def _run(workload: str, trace: int, cwd: str = os.path.dirname(HERE)):
    out = subprocess.run(
        [
            sys.executable, os.path.join(cwd, "perfbench", "run.py"),
            "--workload", workload, "--seed", "3", "--seconds", "2",
            "--trace", str(trace), "--smoke",
        ],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return out.returncode, out.stdout.strip().splitlines(), out.stderr


def _declared(trace: int) -> set[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}


@pytest.mark.parametrize("workload", ["consume_group", "stream_pipeline"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_reports_correct_run(workload, trace):
    code, lines, err = _run(workload, trace)
    assert code == 0, err[-3000:]
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, report
    assert set(result["metrics"]) == _declared(trace)
    assert report["machine"]["cpus"] >= 1
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert result["metrics"]["trace.spans"]["value"] > 0


def test_without_package_fails_without_result(tmp_path):
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, lines, _ = _run("consume_group", 0, cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith("{") for line in lines)


def test_self_time_excludes_children():
    tracer = Tracer()
    with tracer.span("outer"):
        time.sleep(0.02)
        with tracer.span("inner"):
            time.sleep(0.03)
    s = tracer.summary()
    assert s["outer"]["calls"] == s["inner"]["calls"] == 1
    assert s["outer"]["busy_ms"] >= s["inner"]["busy_ms"] + s["outer"]["self_ms"] - 1e-6
    assert 15 <= s["outer"]["self_ms"] < s["outer"]["busy_ms"]
    assert s["inner"]["self_ms"] == s["inner"]["busy_ms"]

"""Self-test of the benchmark: a tiny pass of every workload reports every
metric BENCHMARK.json names, with its unit, and each output check rejects
a corrupted output line.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import run  # noqa: E402

#: fewer input rows than the check samples, so every row is checked
TINY_ROWS = checks.SAMPLE_ROWS - 50


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "0", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", run.WORKLOADS)
def test_tiny_pass_reports_every_metric(spec, name, trace):
    proc = _bench("--workload", name, "--trace", str(trace), "--rows", str(TINY_ROWS))
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
    declared = spec["per_layer" if trace else "end_to_end"]
    assert sorted(out["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    session, _ = run.start_session()
    yield session
    run.stop_session(session)


def _corrupt_line(path: str, index: int) -> None:
    with open(path, "rb") as fh:
        lines = fh.read().split(b"\n")
    lines[index] = lines[index].replace(b'"', b"'", 1)
    with open(path, "wb") as fh:
        fh.write(b"\n".join(lines))


@pytest.mark.parametrize("name", run.WORKLOADS)
def test_render_check_rejects_corrupted_line(spark, tmp_path, name):
    workload = run.make_workload(name, spark, seed=7, rows=TINY_ROWS)
    _, _, paths = workload.run(str(tmp_path))
    path = paths[checks.ROW_DEST]
    _corrupt_line(path, TINY_ROWS // 2)
    with pytest.raises(checks.CheckFailed):
        checks.check_render(path, TINY_ROWS, workload.expected)


def test_summary_check_rejects_corrupted_line(spark, tmp_path):
    workload = run.make_workload("render_jinja", spark, seed=7, rows=TINY_ROWS)
    _, _, paths = workload.run(str(tmp_path))
    path = paths[checks.SUMMARY_DEST]
    _corrupt_line(path, 0)
    with pytest.raises(checks.CheckFailed):
        checks.check_summary(path, workload.summary)


def test_fails_without_the_engine(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the
    benchmark exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "render_native", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

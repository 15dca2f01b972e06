"""Tests of the benchmark itself. The smoke tests start Spark (one session
per run, about 0.5-1.5 min each), so the suite takes several minutes:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))

import gen  # noqa: E402
import run as bench  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = sorted(bench.WORKLOADS)


def _bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def _smoke(workload: str, *extra: str) -> tuple[list[str], dict]:
    p = _bench("--workload", workload, "--seed", "1", "--seconds", "1",
               "--scale", "smoke", *extra)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    lines, res = _smoke(workload, "--trace", trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = dict(bench.PER_LAYER if trace == "1" else bench.END_TO_END)
    assert {n: m["unit"] for n, m in res["metrics"].items()} == names
    for name, unit in names.items():
        assert any(
            line.startswith(f"[{workload}] {name} = ") and f" {unit} (n=" in line
            for line in lines
        ), name
    assert any(line.startswith(f"[{workload}] error_rate = 0 ") for line in lines)
    assert any(line.startswith(f"[{workload}] host ") for line in lines)
    if trace == "0":
        assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_counts_as_a_failure(workload):
    lines, res = _smoke(workload, "--trace", "0", "--corrupt-output")
    assert not res["correct"] and res["failed"] >= 1
    rate = [line for line in lines if line.startswith(f"[{workload}] error_rate = ")]
    assert rate and float(rate[0].split("=")[1].split()[0]) > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0 and p.stdout == ""


def test_inputs_are_a_function_of_the_seed():
    a, b, c = (gen.transcripts(s, 1000, 300, 2) for s in (7, 7, 8))
    assert a.equals(b) and not a.equals(c)
    assert a["turn_idx"].diff().gt(1).any()  # gappy turn_idx


def test_self_time_subtracts_overlapping_children_once():
    t = Tracer("r")
    t.record("op", 0.0, 10.0, parent="")
    t.record("a", 1.0, 4.0, parent="op")
    t.record("b", 3.0, 6.0, parent="op")  # overlaps a: 1..6 covered
    self_s = t.self_times()
    assert self_s["op"] == pytest.approx(5.0)
    assert self_s["a"] == pytest.approx(3.0)

"""The benchmark's own test: every declared metric name is printed.

Runs each workload at ``--small`` size, untraced and traced, and checks
the result line against ``BENCHMARK.json``; a second traced run must
count the same jobs. Also checks the seeded generator and that the
benchmark refuses to run without the package.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import functools
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: Path, workload: str, trace: int,
         seed: int = 3) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@functools.lru_cache(maxsize=None)
def _small_run(workload: str, trace: int, attempt: int = 0):
    """(stdout lines, result) of one small run from the repository root;
    ``attempt`` tells repeated runs apart."""
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_small_run_prints_every_declared_metric(workload, trace):
    lines, result = _small_run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for m in SPEC["end_to_end"] if not trace else ():
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    report = {line.split()[1] for line in lines[:-1]}
    assert {m["name"] for m in SPEC["end_to_end"]} <= report
    assert "failed_frac" in report


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_job_counts_repeat(workload):
    counts = [{k: result["metrics"][k]["value"]
               for k in ("exec.jobs", "plans.build_jobs")}
              for _, result in (_small_run(workload, 1, a) for a in (0, 1))]
    assert counts[0] == counts[1]
    assert counts[0]["exec.jobs"] > 0


def test_generator_is_deterministic_and_seeded():
    sys.path.insert(0, str(ROOT))
    from perfbench import gen

    a, b = gen.corpus(5, 1000), gen.corpus(5, 1000)
    assert a == b
    assert gen.corpus(6, 1000).base != a.base
    ids = [r[0] for r in a.base] + [r[0] for r in a.increment]
    assert sorted(ids) == list(range(1000))
    assert len(a.increment) == 1000 * gen.INCREMENT_SHARE
    copies = [r for r in a.base + a.increment if r[1].endswith(" dup")]
    assert len(copies) == 1000 * gen.NEAR_DUP_SHARE
    plan = gen.lake_plan(5)
    assert plan == gen.lake_plan(5)
    assert plan.run_dates[plan.late_cycle] < plan.run_dates[0]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()

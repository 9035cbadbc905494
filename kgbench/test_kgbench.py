"""Tests of the benchmark itself.

    python -m pytest kgbench -q

The smoke tests run each workload end to end on tiny inputs (about a
minute each on four cores) and check that every metric BENCHMARK.json
names is printed with its unit.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from checks import k_hop_oracle
from harness import nearest_rank, repeats
from spans import Span, self_jobs, self_times

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, str(HERE / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def test_self_time_subtracts_children():
    root = Span("plans.run", 1, 1, None, 0.0, 10.0, job0=0, job1=9)
    a = Span("plans.lineage", 1, 2, 1, 1.0, 4.0, job0=1, job1=5)
    b = Span("functions.fused", 1, 3, 2, 2.0, 3.0, job0=2, job1=4)
    c = Span("operators.canon.cluster", 1, 4, 1, 5.0, 6.0, job0=6, job1=7)
    spans = [root, a, b, c]
    st = self_times(spans)
    assert st == {1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0}
    assert sum(st.values()) == root.end - root.start
    sj = self_jobs(spans)
    assert sj == {1: {0, 5, 7, 8}, 2: {1, 4}, 3: {2, 3}, 4: {6}}


def test_nearest_rank_leaves_ten_above_p90():
    v = list(range(100))
    p90 = nearest_rank(v, 0.9)
    assert sum(x > p90 for x in v) == 10
    assert nearest_rank([5.0], 0.9) == 5.0


def test_work_is_fixed_by_seconds():
    assert [repeats(s) for s in (1, 20, 29, 40, 60)] == [1, 1, 1, 2, 3]


def test_k_hop_oracle():
    pairs = [(1, 2), (2, 3), (3, 4), (5, 5), (6, 1)]
    assert k_hop_oracle(pairs, 1, 2) == {1: 0, 2: 1, 6: 1, 3: 2}
    assert k_hop_oracle(pairs, 5, 2) == {5: 0}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--scale", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / HERE.name,
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, str(tmp_path / HERE.name / "run.py"),
         "--workload", "kg_build", "--seed", "0", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

"""The traced counts repeat exactly: two traced runs of one workload on one
seed report the same jobs, stages, tasks, shuffle bytes and result rows for
every query of every traced pass.

    python3 -m pytest perfbench/test_counts.py -q

Each case starts two benchmark processes (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layers import COUNT_KEYS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _traced(workload: str, detail: str) -> list[list[dict]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--detail", detail],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    with open(detail) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_counts_repeat_across_traced_runs(workload, tmp_path):
    a = _traced(workload, str(tmp_path / "a.json"))
    b = _traced(workload, str(tmp_path / "b.json"))
    counts = lambda passes: [  # noqa: E731
        [(q["query"], *(q[k] for k in COUNT_KEYS)) for q in p] for p in passes
    ]
    ca, cb = counts(a), counts(b)
    assert ca[0] == cb[0], f"{workload}: counts differ between runs"
    # and between traced passes within one run
    assert all(p == ca[0] for p in ca + cb)
    assert all(q["engine.jobs"] > 0 for q in a[0])

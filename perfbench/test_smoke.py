"""Smoke test of the benchmark itself at a tiny input size: every
workload, untraced and traced, must exit 0 and print every metric named
in ``BENCHMARK.json`` with its unit and a finite value, and pass its
own correctness check.

Run from the root of a checkout (a few minutes: one JVM per run)::

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = {"born_digital": 40, "full_corpus_commit": 46, "curate": 150}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY_DOCS))
def test_every_metric_prints(workload, trace):
    spec = _spec()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--docs", str(TINY_DOCS[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    named = spec["per_layer"] if trace else spec["end_to_end"]
    for m in named:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert math.isfinite(got["value"]), m["name"]
    assert len(result["metrics"]) == len(named)

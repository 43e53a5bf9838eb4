"""Self-test: the traced run's counts repeat exactly.

Runs every workload twice, traced, with the same seed at the small
``selftest`` profile (sequential clients, so no two requests race for
the embed cache), and requires identical Spark job counts, py4j round
trips per plan build and per route, embed-cache hits and misses, layout
files written and connected-components jobs. Takes a few minutes:

    python3 -m pytest perfbench/test_selftest.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = (
    "spark.jobs", "api.embed_cache.hits", "api.embed_cache.misses",
    "layout.files_written", "dedup.components_jobs",
)


def traced_run(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "24", "--trace", "1", "--profile", "selftest"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stdout
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["serve", "refresh"])
def test_traced_counts_repeat(workload):
    first, second = traced_run(workload), traced_run(workload)
    names = [n for n in first if n in COUNTS or n.startswith("plan.py4j_calls.")]
    assert first["spark.jobs"] > 0
    assert {n: first[n] for n in names} == {n: second[n] for n in names}

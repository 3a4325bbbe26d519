"""Self-test: the counts a later change may cite repeat exactly.

Runs the traced mode of each workload twice with the same seed, at the
workload's real size with ``--seconds 1`` (one timed pass), and asserts
that every count in ``CITABLE_COUNTS`` reads the same both times. (Across
seeds ``flagship_corpus``'s shuffle bytes move with the replica tags, so
a comparison uses one seed on both sides.) A count that fails here
belongs in ``NOT_CITABLE_COUNTS`` instead. Takes about five minutes;
from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))

from run import CITABLE_COUNTS, NOT_CITABLE_COUNTS  # noqa: E402


def traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["registry_mix", "flagship_corpus"])
def test_citable_counts_repeat(workload):
    a, b = traced(workload, 1), traced(workload, 1)
    assert a["correct"] and b["correct"]
    assert not set(CITABLE_COUNTS) & set(NOT_CITABLE_COUNTS)
    differ = {
        name: (a["metrics"][name]["value"], b["metrics"][name]["value"])
        for name in CITABLE_COUNTS
        if a["metrics"][name]["value"] != b["metrics"][name]["value"]
    }
    assert not differ, f"counts that did not repeat: {differ}"

"""tools/scaling.py arithmetic on fixed perfbench result lines (no
Spark): per-pair efficiency, the median, and refusal of a run that did
not report a correct result."""
from __future__ import annotations

import json

import pytest

from tools.scaling import rate, summary


def _out(docs_per_s: float, correct: bool = True) -> str:
    result = {"correct": correct, "attempted": 3, "failed": 0 if correct
              else 1, "metrics": {
                  "docs_per_s": {"value": docs_per_s, "unit": "docs/s"},
                  "setup_s": {"value": 20.0, "unit": "s"}}}
    return "perfbench trace=0 cores=4\n  docs_per_s ...\n" + json.dumps(
        result) + "\n"


def test_efficiency_and_median_from_result_lines():
    rates = [(rate(_out(1000.0)), rate(_out(3200.0))),
             (rate(_out(1250.0)), rate(_out(3000.0))),
             (rate(_out(1000.0)), rate(_out(2000.0)))]
    out = summary([11, 12, 13], rates, 4)
    assert out["efficiency"] == [0.8, 0.6, 0.5]
    assert out["median_efficiency"] == 0.6
    assert out["levels"] == [1, 4]
    assert [r["first"] for r in out["runs"]] == [1, 4, 1]
    assert out["runs"][1] == {"seed": 12, "first": 4,
                              "docs_per_s": {"1": 1250.0, "4": 3000.0}}
    json.dumps(out)


def test_incorrect_run_raises():
    with pytest.raises(RuntimeError, match="incorrect"):
        rate(_out(3000.0, correct=False))


def test_missing_result_line_raises():
    with pytest.raises(RuntimeError):
        rate("perfbench trace=0 cores=1\nTraceback (most recent call last)\n")
    with pytest.raises(RuntimeError):
        rate("")

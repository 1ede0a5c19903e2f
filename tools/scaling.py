"""1→N scaling efficiency of the pipeline benchmark on this host.

Run from the repository root:

    python tools/scaling.py

Runs ``perfbench/run.py --workload parse_agg`` for BENCHMARK.json's
``run_seconds`` pinned to one CPU, then to every CPU this process may
use (perfbench sizes ``local[N]`` from the affinity mask). Three pairs,
each with a fresh seed shared by both levels; the level that runs first
alternates. Efficiency is ``docs_per_s(N) / (N * docs_per_s(1))``:
perfbench's end-to-end rate, per-job fixed cost included. Prints one
JSON line; exits non-zero if a run fails or reports ``correct: false``.
"""
from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRS = 3


def rate(stdout: str) -> float:
    """``docs_per_s`` from a perfbench run's output, whose last line is
    the result object; raises unless every job was correct."""
    last = (stdout.strip().splitlines() or [""])[-1]
    result = json.loads(last) if last.startswith("{") else {}
    if result.get("correct") is not True:
        raise RuntimeError(f"perfbench run failed or incorrect: {last!r}")
    return result["metrics"]["docs_per_s"]["value"]


def summary(seeds: list[int], rates: list[tuple[float, float]],
            n: int) -> dict:
    """Per-run rates, per-pair efficiency and their median."""
    effs = [many / (n * one) for one, many in rates]
    runs = [{"seed": seed, "first": 1 if i % 2 == 0 else n,
             "docs_per_s": {"1": one, str(n): many}}
            for i, (seed, (one, many)) in enumerate(zip(seeds, rates))]
    return {"workload": "parse_agg", "levels": [1, n], "runs": runs,
            "efficiency": [round(e, 4) for e in effs],
            "median_efficiency": round(statistics.median(effs), 4)}


def run(cpus: set[int], seed: int, seconds: float) -> float:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "parse_agg",
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
        preexec_fn=lambda: os.sched_setaffinity(0, cpus))
    sys.stderr.write(proc.stdout)
    return rate(proc.stdout)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    every = os.sched_getaffinity(0)
    levels = [{min(every)}, every]
    seeds = random.sample(range(1, 1 << 20), PAIRS)
    rates = []
    for i, seed in enumerate(seeds):
        got = {len(c): run(c, seed, seconds)
               for c in (levels if i % 2 == 0 else levels[::-1])}
        rates.append((got[1], got[len(every)]))
    print(json.dumps(summary(seeds, rates, len(every))))


if __name__ == "__main__":
    main()

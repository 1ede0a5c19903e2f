"""Pipeline benchmark command.

Run from the repository root:

    python3 perfbench/run.py --workload parse_agg --seed 1 --seconds 6 --trace 0

Builds the workload's input from the seed, starts Spark on
``local[<cores>]``, runs one cold job (part of set-up) and then complete
jobs back to back for ``--seconds``, checking every job's output against
the char-FSM oracle. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see BENCHMARK.json). Every metric is
printed by name and unit; the last line of standard output is one JSON
object. All files go under ``.perfbench/`` in the repository root.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("parse_agg", "unique_lines_agg", "checkpointed_job")


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def confine_to(work_dir: str, cpus: int) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work_dir`` and
    size the session from the host."""
    tmp = os.path.join(work_dir, "tmp")
    for sub in ("tmp", "spark-local", "cache", "out", "traces"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # fixed, so runs on any host compare; fits a 15 GB host
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files under /tmp; JVM temp files in the work dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = tmp


def main(argv=None) -> int:
    started = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "console_log_parser_spark")):
        print("perfbench: console_log_parser_spark not found under "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    confine_to(os.path.join(ROOT, ".perfbench"),
               len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)
    from perfbench import harness

    result = harness.run(args.workload, args.seed, args.seconds,
                         bool(args.trace), ROOT, started)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

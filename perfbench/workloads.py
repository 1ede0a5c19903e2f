"""The benchmark's workloads: one complete job over one input slice, and
the check of its output against the oracle's expectation.

``run(slice)`` builds the job's plan over the slice and executes it (the
timed part, as a batch operator submits each new batch); ``output``
reads the result back (untimed) and ``check`` compares it with
``slice.expect``.
"""
from __future__ import annotations

import itertools
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from console_log_parser_spark.operators import aggregate as agg_ops
from console_log_parser_spark.plans.checkpoint import run_with_checkpoints
from console_log_parser_spark.plans.pipeline import (PipelineConfig,
                                                     build_routed)

from .corpus import CorpusSpec, Slice

CHECKPOINT_BATCHES = 8   # the spark-submit job's default (--batches)


def same_rows(got: list, expected: list) -> bool:
    """Equal as multisets of rows (aggregate output has no order)."""
    def norm(rows):
        return sorted((tuple(r) for r in rows), key=repr)
    return norm(got) == norm(expected)


class FlagshipJob:
    """scan -> parse_stage -> enrich_stage -> apply_suppress_filter ->
    route_stage (``build_routed``) -> severity_histogram, written to the
    noop sink. An Observation riding the same write gathers the rows the
    sink receives, so every run's real output is checked without a
    second action."""

    def __init__(self, spark, work_dir: str):
        self.spark = spark
        self.out_dir = os.path.join(work_dir, "out")
        self._ids = itertools.count()

    def config(self, data: Slice) -> PipelineConfig:
        return PipelineConfig(in_dir=data.data_dir, out_dir=self.out_dir)

    def run(self, data: Slice) -> Observation:
        hist = agg_ops.severity_histogram(
            build_routed(self.spark, self.config(data)))
        obs = Observation(f"perfbench_{next(self._ids)}")
        rows = F.collect_list(F.struct(*hist.columns)).alias("rows")
        hist.observe(obs, rows).write.format("noop").mode("overwrite").save()
        return obs

    def output(self, obs: Observation) -> dict:
        return {"severity_histogram": [list(r) for r in obs.get["rows"]]}

    def check(self, output: dict, expect: dict) -> bool:
        return same_rows(output["severity_histogram"],
                         expect["severity_histogram"])


class CheckpointedJob:
    """``run_with_checkpoints`` as jobs/run_pipeline.py calls it: 8
    micro-batches, a routed parquet fan-out by sink, then the five
    aggregate tables, into a fresh output directory every run."""

    def __init__(self, spark, work_dir: str):
        self.spark = spark
        self.out_root = os.path.join(work_dir, "out")
        self._ids = itertools.count()
        self.files_per_sink: dict[str, int] = {}

    def config(self, data: Slice) -> PipelineConfig:
        return PipelineConfig(in_dir=data.data_dir, out_dir=os.path.join(
            self.out_root, f"run{next(self._ids)}"))

    def run(self, data: Slice) -> tuple[str, dict]:
        cfg = self.config(data)
        shutil.rmtree(cfg.out_dir, ignore_errors=True)
        return cfg.out_dir, run_with_checkpoints(
            self.spark, cfg, n_batches=CHECKPOINT_BATCHES)

    def output(self, handle: tuple[str, dict]) -> dict:
        out_dir, result = handle
        files_per_sink: dict[str, int] = {}
        for root, _dirs, files in os.walk(os.path.join(out_dir, "routed")):
            sink = os.path.basename(root)
            if sink.startswith("sink="):
                files_per_sink[sink[5:]] = files_per_sink.get(
                    sink[5:], 0) + sum(f.endswith(".parquet") for f in files)
        self.files_per_sink = files_per_sink
        out = {"result": result}
        for name in ("severity_histogram", "sink_summary"):
            out[name] = [list(r.values()) for r in pq.read_table(
                os.path.join(out_dir, f"agg_{name}")).to_pylist()]
        shutil.rmtree(out_dir)
        return out

    def check(self, output: dict, expect: dict) -> bool:
        r = output["result"]
        return (r["complete"] and r["rows"] == expect["rows"]
                and r["tokens"] == expect["tokens"]
                and same_rows(output["severity_histogram"],
                              expect["severity_histogram"])
                and same_rows(output["sink_summary"],
                              expect["sink_summary"]))


# name -> (input stream, job class, untimed warm-up jobs after the cold
# one, fresh slices for the timed window). Warm-up lengths as measured on
# a 4-core VM: flagship job walls settle after about five jobs (the JIT
# and the Python workers warming); the checkpointed job takes ~25 s cold,
# 13-17 s second, ~10 s third.
WORKLOADS = {
    "parse_agg": (CorpusSpec("parse_agg", 4000), FlagshipJob, 4, 8),
    "unique_lines_agg": (CorpusSpec("unique_lines_agg", 4000,
                                    unique_lines=True), FlagshipJob, 4, 8),
    "checkpointed_job": (CorpusSpec("checkpointed_job", 1000),
                         CheckpointedJob, 1, 3),
}

"""The traced run's instruments: spans kept in memory, noop-sink cuts of
the flagship plan, status-store readings per layer, and an in-process
parse measurement. Everything here observes the program from outside:
it calls the layers' public functions and reads Spark's own metrics.
"""
from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

from console_log_parser_spark.operators.enrich import (apply_suppress_filter,
                                                       enrich_stage)
from console_log_parser_spark.operators.parse import parse_batch, parse_stage
from console_log_parser_spark.plans.pipeline import (PipelineConfig,
                                                     build_routed)
from console_log_parser_spark.sources.catalog import read_tokens


MB = 1e6
CUT_ROUNDS = 2
ANSI_BATCH_ROWS = 2048    # = spark.sql.execution.arrow.maxRecordsPerBatch

# Each per-layer metric, the end-to-end metric it should move, and the
# workloads on which it should move it.
LAYER_MAP = {
    "session.start_s": ("setup_s", "all"),
    "pipeline.build_s": ("setup_s", "parse_agg, unique_lines_agg"),
    "sources.scan_s": ("docs_per_s", "checkpointed_job"),
    "sources.scan_mb": ("docs_per_s", "checkpointed_job"),
    "parse.arrow_s": ("docs_per_s", "parse_agg"),
    "parse.to_python_mb": ("docs_per_s", "parse_agg"),
    "parse.python_run_s": ("docs_per_s", "parse_agg"),
    "parse.from_python_mb": ("docs_per_s", "parse_agg"),
    "parse.worker_rss_mb": ("peak_rss_mb", "unique_lines_agg"),
    "ansi.parse_s": ("docs_per_s", "parse_agg, unique_lines_agg"),
    "ansi.docs_per_core_s": ("docs_per_s", "parse_agg, unique_lines_agg"),
    "enrich.join_s": ("docs_per_s", "checkpointed_job"),
    "aggregate.agg_s": ("docs_per_s", "checkpointed_job"),
    "aggregate.shuffle_mb": ("docs_per_s", "checkpointed_job"),
    "route.write_s": ("docs_per_s", "checkpointed_job"),
    "route.write_mb": ("docs_per_s", "checkpointed_job"),
    "route.files_written": ("docs_per_s", "checkpointed_job"),
    "route.files_per_sink_max": ("docs_per_s", "checkpointed_job"),
    "checkpoint.batch_s": ("docs_per_s", "checkpointed_job"),
    "checkpoint.spark_jobs": ("docs_per_s", "checkpointed_job"),
    "trace.overhead_docs_per_s": ("docs_per_s", "all"),
}


class Tracer:
    """Spans of one run: name, start, end, parent; one trace id."""

    def __init__(self):
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"trace": self.trace_id, "id": sid,
                           "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), None, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextmanager
def job_group(spark, label: str):
    """Tag every job and SQL execution started inside with ``label``."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        yield label
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def spark_jobs(spark, label: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(label))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _passthrough():
    """A MapInArrow that ships the scanned columns to Python and returns
    two narrow ones: the Arrow boundary without the parse. Nested so
    cloudpickle ships it by value to workers that lack this package."""
    def fn(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), b.column("n_tok")],
                names=["doc_id", "n_tok"])
    return fn


CUTS = ("scan", "arrow", "parse", "enrich", "routed")
PARSING_CUTS = CUTS[2:]   # these get fresh documents in every round


def cut_plan(spark, name: str, in_dir: str):
    """One noop-sink cut of the flagship plan over ``in_dir``: scan,
    +Arrow passthrough, +parse, +enrich/suppress, +route projection
    (``build_routed`` itself)."""
    if name == "routed":
        return build_routed(spark, PipelineConfig(in_dir=in_dir,
                                                  out_dir=in_dir))
    logs = read_tokens(spark, f"{in_dir}/tokenized_logs.parquet") \
        .select("doc_id", "tokens", "n_tok", "source")
    if name == "scan":
        return logs
    if name == "arrow":
        return logs.mapInArrow(_passthrough(), "doc_id string, n_tok int")
    parsed = parse_stage(logs)
    if name == "parse":
        return parsed
    routes = spark.read.parquet(f"{in_dir}/route_metadata.parquet")
    return apply_suppress_filter(enrich_stage(parsed, routes))


def time_cuts(spark, scan_dir: str, fresh_dirs: list[str], tracer: Tracer,
              parent: int) -> dict[str, float]:
    """Median wall per cut over ``CUT_ROUNDS`` interleaved rounds. The
    scan and passthrough cuts re-read ``scan_dir``; every parsing cut
    reads its own slice from ``fresh_dirs``, so no cut parses documents
    the Python workers have already seen."""
    fresh = iter(fresh_dirs)
    walls: dict[str, list[float]] = {name: [] for name in CUTS}
    for r in range(CUT_ROUNDS):
        for name in CUTS:
            df = cut_plan(spark, name,
                          next(fresh) if name in PARSING_CUTS else scan_dir)
            t0 = time.time()
            _noop(df)
            t1 = time.time()
            tracer.add(f"cut:{name}", t0, t1, parent, round=r)
            walls[name].append(t1 - t0)
    return {name: statistics.median(w) for name, w in walls.items()}


def ansi_docs_per_core_s(data_dir: str) -> float:
    """``parse_batch`` in this process (one core, no Spark) over one
    slice of the workload's input, in the engine's Arrow batch size."""
    batches = [b for f in sorted(pq.ParquetDataset(
        f"{data_dir}/tokenized_logs.parquet").files)
        for b in pq.ParquetFile(f).iter_batches(
            batch_size=ANSI_BATCH_ROWS,
            columns=["doc_id", "tokens", "n_tok", "source"])]
    t0 = time.perf_counter()
    for b in batches:
        parse_batch(b)
    return sum(b.num_rows for b in batches) / (time.perf_counter() - t0)


def flagship_exec_metrics(execs: list) -> dict[str, float]:
    """Layer readings from the executions of one flagship job."""
    return {
        "sources.scan_mb": sum(e.total("Scan", "size of files read")
                               for e in execs) / MB,
        "parse.to_python_mb": sum(
            e.total("MapInArrow", "data sent to Python workers")
            for e in execs) / MB,
        "parse.from_python_mb": sum(
            e.total("MapInArrow", "data returned from Python workers")
            for e in execs) / MB,
        "parse.python_run_s": sum(
            e.total("MapInArrow", "time to run Python workers")
            for e in execs),
        "aggregate.shuffle_mb": sum(
            e.total("Exchange", "shuffle bytes written") for e in execs) / MB,
    }


def checkpoint_exec_metrics(execs: list, files_per_sink: dict,
                            tracer: Tracer, parent: int) -> dict[str, float]:
    """Layer readings from the executions of one checkpointed run; each
    execution becomes a child span of ``parent``."""
    batches = [e for e in execs if "/routed/batch=" in e.plan]
    aggs = [e for e in execs if "/agg_" in e.plan]
    for e in execs:
        kind = "batch" if e in batches else "aggregate" if e in aggs \
            else "other"
        tracer.add(f"execution:{kind}", e.start, e.end, parent,
                   execution_id=e.id, jobs=e.jobs)
    m = flagship_exec_metrics(batches)
    m["aggregate.shuffle_mb"] = sum(
        e.total("Exchange", "shuffle bytes written") for e in execs) / MB
    m.update({
        "aggregate.agg_s": sum(e.wall_s for e in aggs),
        "route.write_s": sum(e.wall_s for e in batches),
        "route.write_mb": sum(
            e.total("Execute InsertIntoHadoopFsRelationCommand",
                    "written output") for e in batches) / MB,
        "route.files_written": sum(
            e.total("Execute InsertIntoHadoopFsRelationCommand",
                    "number of written files") for e in batches),
        "route.files_per_sink_max": max(files_per_sink.values()),
        "checkpoint.batch_s": statistics.median(e.wall_s for e in batches),
    })
    return m

"""One benchmark run: seeded inputs, set-up, a closed-loop timed window,
oracle checks, and (traced) per-layer readings.

Load is a closed loop with one client: the next job is submitted only
after the previous one has completed and been checked, the way a batch
operator runs the pipeline.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

from console_log_parser_spark.plans.pipeline import (PipelineConfig,
                                                     build_routed)
from console_log_parser_spark.session import get_spark

from . import corpus, sparkstats, tracing
from .workloads import WORKLOADS, CheckpointedJob

MB = 1e6


def session(cpus: int, work_dir: str):
    return get_spark(
        app="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        })


class Counts:
    def __init__(self):
        self.attempted = 0
        self.failed = 0


def checked_job(job, data: corpus.Slice,
                counts: Counts) -> tuple[float, bool]:
    """Run one complete job over one slice and check its output against
    the oracle. Returns (wall seconds of the job itself, passed)."""
    counts.attempted += 1
    t0 = time.perf_counter()
    wall = None
    try:
        handle = job.run(data)
        wall = time.perf_counter() - t0
        ok = job.check(job.output(handle), data.expect)
    except Exception:  # a failed job is counted and reported, not fatal
        traceback.print_exc(file=sys.stderr)
        ok = False
    if wall is None:
        wall = time.perf_counter() - t0
    if not ok:
        counts.failed += 1
        print(f"perfbench: job {counts.attempted} raised or disagreed with "
              "the oracle", file=sys.stderr)
    return wall, ok


def closed_loop(seconds: float, step, min_steps: int = 1) -> bool:
    """Call ``step`` back to back until ``seconds`` have passed and it
    ran ``min_steps`` times. ``step`` returns False when it has no input
    left; then the window ends early and this returns False."""
    end = time.perf_counter() + seconds
    steps = 0
    while step():
        steps += 1
        if steps >= min_steps and time.perf_counter() >= end:
            return True
    return False


def slices_needed(name: str, trace: bool) -> int:
    """The cold job's slice (which the warm-up jobs re-run) and the timed
    window's fresh slices; a traced flagship run adds fresh slices for
    the parsing cuts and one checkpointed run."""
    _, job_cls, _, timed = WORKLOADS[name]
    n = 1 + timed
    if trace:
        n += tracing.CUT_ROUNDS * len(tracing.PARSING_CUTS)
        if job_cls is not CheckpointedJob:
            n += 1
    return n


def measure(spark, name: str, slices: list, seconds: float, trace: bool,
            work_dir: str, pre_s: float = 0.0,
            session_s: float = 0.0) -> tuple[dict, Counts, tracing.Tracer]:
    """Run the workload on a running session: the cold job, the untimed
    warm-up jobs, the timed window and (traced) the layer readings.
    Returns (metrics, counts, tracer)."""
    _, job_cls, warmup, timed = WORKLOADS[name]
    job = job_cls(spark, work_dir)
    counts = Counts()
    tracer = tracing.Tracer()
    feed = iter(slices[1:1 + timed])
    extra = iter(slices[1 + timed:])
    m: dict[str, float] = {}

    with tracer.span(f"workload:{name}") as root:
        t_setup = time.time()
        tracer.add("setup:get_spark", t_setup - session_s, t_setup, root)
        if trace:
            with tracer.span("setup:build_routed"):
                t0 = time.perf_counter()
                build_routed(spark, PipelineConfig(
                    in_dir=slices[0].data_dir, out_dir=work_dir))
                m["pipeline.build_s"] = time.perf_counter() - t0
        with tracer.span("run:cold"):
            cold_s, _ = checked_job(job, slices[0], counts)
        m["setup_s"] = pre_s + session_s + cold_s
        m["session.start_s"] = session_s
        # Untimed warm-up jobs re-run the cold slice: they warm the JIT
        # and the Python workers without costing fresh input; every timed
        # job then parses documents no worker has seen.
        for _ in range(warmup):
            with tracer.span("run:warmup"):
                checked_job(job, slices[0], counts)

        plain, traced, layer_runs = [], [], []

        def plain_step() -> bool:
            data = next(feed, None)
            if data is None:
                return False
            wall, ok = checked_job(job, data, counts)
            if ok:
                plain.append(wall)
            return True

        def traced_step() -> bool:
            data = next(feed, None)
            if data is None:
                return False
            label = f"perfbench:{tracer.trace_id}:run{counts.attempted}"
            with tracer.span("run") as sid, tracing.job_group(spark, label):
                with tracer.span("action"):
                    wall, ok = checked_job(job, data, counts)
            if ok:
                traced.append(wall)
                layer_runs.append(_layer_readings(
                    spark, job, label, tracer, sid))
            return True

        def alternating_step() -> bool:
            return (traced_step if len(plain) > len(traced)
                    else plain_step)()

        with sparkstats.RssSampler(sparkstats.jvm_pid()) as rss:
            if trace:  # at least one untraced and one traced job
                m["window_complete"] = closed_loop(seconds, alternating_step,
                                                   min_steps=2)
            else:
                m["window_complete"] = closed_loop(seconds, plain_step)
        if not plain or (trace and not traced):
            raise RuntimeError("no timed job passed its oracle check")
        m["docs_per_s"] = slices[0].expect["rows"] / statistics.median(plain)
        m["peak_rss_mb"] = rss.peak_total / MB
        m["timed_walls"] = plain

        if trace:
            m["parse.worker_rss_mb"] = rss.peak_workers / MB
            m["trace.overhead_docs_per_s"] = (
                m["docs_per_s"]
                - slices[0].expect["rows"] / statistics.median(traced))
            for key in layer_runs[0]:
                m[key] = statistics.median(r[key] for r in layer_runs)
            with tracer.span("cuts") as sid:
                cut_dirs = [next(extra).data_dir for _ in range(
                    tracing.CUT_ROUNDS * len(tracing.PARSING_CUTS))]
                cuts = tracing.time_cuts(spark, slices[0].data_dir,
                                         cut_dirs, tracer, sid)
            m["sources.scan_s"] = cuts["scan"]
            m["parse.arrow_s"] = cuts["arrow"] - cuts["scan"]
            m["ansi.parse_s"] = cuts["parse"] - cuts["arrow"]
            m["enrich.join_s"] = cuts["enrich"] - cuts["parse"]
            if job_cls is not CheckpointedJob:
                m["aggregate.agg_s"] = (statistics.median(traced)
                                        - cuts["routed"])
                with tracer.span("checkpointed_run") as sid:
                    m.update(_checkpoint_readings(
                        spark, next(extra), work_dir, counts, tracer, sid))
            with tracer.span("ansi_in_process"):
                m["ansi.docs_per_core_s"] = tracing.ansi_docs_per_core_s(
                    slices[0].data_dir)
    return m, counts, tracer


def _layer_readings(spark, job, label, tracer, parent) -> dict:
    execs = sparkstats.executions(spark, label)
    jobs = tracing.spark_jobs(spark, label)
    if isinstance(job, CheckpointedJob):
        m = tracing.checkpoint_exec_metrics(
            execs, job.files_per_sink, tracer, parent)
        m["checkpoint.spark_jobs"] = jobs
        return m
    for e in execs:
        tracer.add("execution", e.start, e.end, parent, execution_id=e.id,
                   jobs=e.jobs)
    return tracing.flagship_exec_metrics(execs)


def _checkpoint_readings(spark, data, work_dir, counts, tracer,
                         parent) -> dict:
    """One checkpointed run over a flagship slice: the route and
    checkpoint layers' readings for that input."""
    job = CheckpointedJob(spark, work_dir)
    label = f"perfbench:{tracer.trace_id}:checkpointed"
    with tracing.job_group(spark, label):
        _, ok = checked_job(job, data, counts)
    if not ok:
        raise RuntimeError("checkpointed run failed its oracle check")
    m = tracing.checkpoint_exec_metrics(
        sparkstats.executions(spark, label), job.files_per_sink,
        tracer, parent)
    m["checkpoint.spark_jobs"] = tracing.spark_jobs(spark, label)
    return {k: v for k, v in m.items() if k.startswith(
        ("route.", "checkpoint."))}


def run(name: str, seed: int, seconds: float, trace: bool, root: str,
        proc_start: float) -> dict:
    """The whole benchmark run for one workload; returns the result
    object the command prints last."""
    work_dir = os.path.join(root, ".perfbench")
    cpus = len(os.sched_getaffinity(0))
    spec = WORKLOADS[name][0]
    pre_s = time.time() - proc_start
    slices = corpus.prepare(spec, seed, slices_needed(name, trace),
                            os.path.join(work_dir, "cache"), cpus)

    t0 = time.time()
    spark = session(cpus, work_dir)
    session_s = time.time() - t0
    try:
        host = {
            "cores": cpus,
            "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "jdk": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
        }
        m, counts, tracer = measure(spark, name, slices, seconds, trace,
                                    work_dir, pre_s, session_s)
    finally:
        sparkstats.shutdown(spark)
    trace_path = None
    if trace:
        trace_path = os.path.join(
            work_dir, "traces", f"{name}-s{seed}-{tracer.trace_id}.json")
        tracer.write(trace_path)
    return report(trace, host, corpus.describe(spec, seed, slices), m,
                  counts, trace_path, root)


def benchmark_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def report(trace, host, props, m, counts, trace_path, root) -> dict:
    """Print every metric by name and unit; return the result object
    (end-to-end metrics untraced, per-layer metrics traced)."""
    spec = benchmark_spec(root)
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    print(f"perfbench trace={int(trace)} "
          + " ".join(f"{k}={v}" for k, v in host.items()))
    print("input " + " ".join(f"{k}={v}" for k, v in props.items()))
    metrics = {}
    for entry in listed:
        metrics[entry["name"]] = {"value": m[entry["name"]],
                                  "unit": entry["unit"]}
        moves = tracing.LAYER_MAP.get(entry["name"])
        note = f"  -> {moves[0]} on {moves[1]}" if moves else ""
        print(f"  {entry['name']:<28} {m[entry['name']]:>14.4f} "
              f"{entry['unit']}{note}")
    print(f"  failed_frac = {counts.failed}/{counts.attempted} = "
          f"{counts.failed / counts.attempted:.4f}; timed job walls (s) = "
          + " ".join(f"{w:.3f}" for w in m["timed_walls"]))
    if not m["window_complete"]:
        print("  the timed window ended early: every input slice was used")
    if trace_path:
        print(f"  spans written to {os.path.relpath(trace_path, root)}")
    return {"correct": counts.failed == 0, "attempted": counts.attempted,
            "failed": counts.failed, "metrics": metrics}

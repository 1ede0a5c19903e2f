"""Self-tests of the benchmark at a tiny size.

    python -m pytest perfbench -q -p no:cacheprovider

Each workload builds and runs with every output checked; a deliberately
corrupted output is counted as failed; every emitted metric name matches
BENCHMARK.json; and the command refuses to run without the program.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import corpus, harness, run, sparkstats, tracing, workloads

ROOT = run.ROOT
WORK = os.path.join(ROOT, ".perfbench", "selftest")
TINY_DOCS = 40


@pytest.fixture(scope="module")
def spark():
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr("tempfile.tempdir", None)
        for key in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                    "SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS"):
            mp.setenv(key, os.environ.get(key, ""))
        run.confine_to(WORK, 2)
        session = harness.session(2, WORK)
        try:
            yield session
        finally:
            sparkstats.shutdown(session)


@pytest.fixture
def tiny(monkeypatch):
    """Shrink every workload to TINY_DOCS docs per job, one warm-up job
    and two timed slices."""
    for name, (spec, job_cls, _, _) in list(workloads.WORKLOADS.items()):
        monkeypatch.setitem(
            harness.WORKLOADS, name,
            (corpus.CorpusSpec(name, TINY_DOCS, spec.unique_lines),
             job_cls, 1, 2))

    def prepare(name: str, trace: bool) -> list:
        return corpus.prepare(
            harness.WORKLOADS[name][0], 7,
            harness.slices_needed(name, trace),
            os.path.join(WORK, "cache"), 2)
    return prepare


def spec() -> dict:
    return harness.benchmark_spec(ROOT)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_each_workload_runs_and_passes_the_oracle(spark, tiny, name):
    m, counts, _ = harness.measure(spark, name, tiny(name, False), 0.1,
                                   False, WORK)
    assert counts.attempted >= 3
    assert counts.failed == 0
    assert m["docs_per_s"] > 0 and m["peak_rss_mb"] > 0


def test_corrupted_output_counts_as_failed(spark, tiny, monkeypatch):
    real = workloads.FlagshipJob.output
    calls = []

    def corrupt_first(self, handle):
        out = real(self, handle)
        if not calls:
            out["severity_histogram"][0][2] += 1   # one doc too many
        calls.append(1)
        return out

    monkeypatch.setattr(workloads.FlagshipJob, "output", corrupt_first)
    m, counts, _ = harness.measure(spark, "parse_agg",
                                   tiny("parse_agg", False), 0.1, False,
                                   WORK)
    result = harness.report(False, {}, {}, m, counts, None, ROOT)
    assert counts.failed == 1 and counts.attempted == len(calls)
    assert result["failed"] == 1 and result["correct"] is False


@pytest.mark.parametrize("trace", [False, True])
def test_emitted_names_match_benchmark_json(spark, tiny, trace):
    m, counts, tracer = harness.measure(
        spark, "parse_agg", tiny("parse_agg", trace), 0.1, trace, WORK)
    result = harness.report(trace, {}, {}, m, counts, None, ROOT)
    listed = spec()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [e["name"] for e in listed]
    assert all(result["metrics"][e["name"]]["unit"] == e["unit"]
               for e in listed)
    assert json.loads(json.dumps(result)) == result
    if trace:
        assert {s["trace"] for s in tracer.spans} == {tracer.trace_id}
        assert any(s["name"].startswith("execution") for s in tracer.spans)


def test_benchmark_json_agrees_with_the_code():
    s = spec()
    assert set(tracing.LAYER_MAP) == {e["name"] for e in s["per_layer"]}
    assert {w["name"] for w in s["workloads"]} <= set(workloads.WORKLOADS)
    assert set(run.WORKLOAD_NAMES) == set(workloads.WORKLOADS)
    assert s["command"] == ["python3", "perfbench/run.py"]


def test_unique_corpus_repeats_no_prompt_line():
    spec_u = corpus.CorpusSpec("unique_lines_agg", TINY_DOCS, True)
    spec_r = corpus.CorpusSpec("parse_agg", TINY_DOCS)
    cache = os.path.join(WORK, "cache")
    unique = corpus.describe(spec_u, 7, corpus.prepare(spec_u, 7, 2, cache, 2))
    repeated = corpus.describe(spec_r, 7, corpus.prepare(spec_r, 7, 2, cache,
                                                         2))
    assert unique["prompt_line_repeat_share"] == 0.0
    assert repeated["prompt_line_repeat_share"] > 0.0


def test_parse_metric_units():
    assert sparkstats.parse_metric("1,000") == 1000
    assert sparkstats.parse_metric("16.0 MiB") == 16 * 2 ** 20
    assert sparkstats.parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "169 ms (27 ms, 46 ms, 54 ms (stage 313.0: task 315))") == \
        pytest.approx(0.169)
    assert sparkstats.parse_metric("1.2 s") == pytest.approx(1.2)


def test_command_fails_without_the_program():
    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "parse_agg",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

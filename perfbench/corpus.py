"""Seeded benchmark inputs and their oracle expectations.

Each workload's tokenized table is rendered by ``datagen`` from the
run's seed. The expected ``severity_histogram`` and ``sink_summary``
come from the independent char-FSM oracle (``oracle.oracle_parse_doc``)
plus a plain-Python route lookup, never from the engine. Generation and
the oracle pass run together in a small process pool, one table file per
task.

A workload's input is a stream of disjoint slices, one per job, so no
job re-parses documents an earlier job parsed: the parse stage's
per-worker line memo sees what it would see on new data, not a corpus
it has already memoized. Slices are cached under the work directory,
keyed on workload, size, seed, slice index and the source of every
module that shapes them.
"""
from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing
import os
import shutil
import statistics
from collections import Counter
from dataclasses import dataclass
from multiprocessing import resource_tracker

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from console_log_parser_spark import datagen, oracle
from console_log_parser_spark.operators.enrich import DEAD_LETTER_SINK

# One row group per file, so one scan task per file. More tasks than
# cores lets the scheduler route around a slowed core instead of waiting
# on it (measured on a shared 4-core VM, docs_per_s spread over five
# seeds: 0.23 with 4 files, 0.08 with 8).
N_FILES = 8
N_SOURCES = 64        # datagen's Zipf(s=1.2) source ids; 10 % unmapped
PROMPT_END = "\x1b[00m$ "   # datagen's prompt tail; the command follows

_SUMMED = ["n_tok", "n_stripped", "n_events", "prompt_count", "n_cmd",
           "n_vim", "n_unparsed", "n_app_mode", "n_devstat",
           "n_edit_warnings"]


@dataclass(frozen=True)
class CorpusSpec:
    name: str
    docs_per_job: int
    unique_lines: bool = False


@dataclass(frozen=True)
class Slice:
    """The input of one job: ``data_dir`` holds
    ``tokenized_logs.parquet/`` (``N_FILES`` files) and
    ``route_metadata.parquet``, the layout ``PipelineConfig.in_dir``
    expects; ``expect`` is the oracle's answer for it."""
    data_dir: str
    expect: dict
    stats: dict


def tag_commands(text: str, doc_index: int) -> str:
    """Append an argument naming the document and the command's ordinal
    to every command line, so no prompt line occurs twice in a corpus.

    Every datagen editing style leaves the cursor at the end of the
    line, so the argument lands after the replayed command."""
    parts = text.split(PROMPT_END)
    for k in range(1, len(parts)):
        cut = parts[k].find("\r\n")
        arg = f" --run=d{doc_index}c{k}"
        parts[k] = (parts[k] + arg if cut < 0
                    else parts[k][:cut] + arg + parts[k][cut:])
    return PROMPT_END.join(parts)


def render(unique: bool, doc_index: int, seed: int) -> str:
    text, _ = datagen.gen_doc(doc_index, seed)
    return tag_commands(text, doc_index) if unique else text


def _line_digest(line: str) -> bytes:
    return hashlib.blake2b(line.encode("utf-8", "surrogatepass"),
                           digest_size=8).digest()


def _build_file(task: tuple) -> dict:
    """Pool worker: render docs [start, start+count), write them as one
    parquet file, and return the oracle's partial aggregates."""
    unique, seed, start, count, path = task
    routes = {r["source"]: r
              for r in datagen.route_metadata_rows(N_SOURCES, seed)}
    texts, sources = [], []
    sev: dict[str, list] = {}
    sinks: dict[str, dict] = {}
    replay_lines, prompt_lines = [], []
    for i in range(start, start + count):
        text = render(unique, i, seed)
        source = datagen.doc_source(i, seed, N_SOURCES)
        texts.append(text)
        sources.append(source)

        p = oracle.oracle_parse_doc(text)
        route = routes.get(source)
        sink = route["sink"] if route else DEAD_LETTER_SINK
        suppress = set(route["suppress_cmds"] or ()) if route else set()
        n_cmd = sum(1 for j in range(len(p["cmd_lines"]))
                    if j + 1 not in suppress)
        row = {"n_tok": len(text), "n_stripped": len(p["stripped"]),
               "n_cmd": n_cmd, **p}
        key = json.dumps([sink, p["severity"]])
        h = sev.setdefault(key, [0, 0, 0, 0, 0])
        h[0] += 1
        h[1] += p["n_debug"]
        h[2] += p["n_info"]
        h[3] += p["n_warn"]
        h[4] += p["n_error"]
        s = sinks.setdefault(sink, {"n_rows": 0, "sources": set(),
                                    "ts": [], **{c: 0 for c in _SUMMED}})
        s["n_rows"] += 1
        for c in _SUMMED:
            s[c] += row[c]
        s["sources"].add(source)
        s["ts"] += [t for t in (p["ts_min"], p["ts_max"]) if t is not None]

        for line in text.split("\n")[:-1]:
            if "$" in line:  # the lines the engine replays and memoizes
                d = _line_digest(line)
                replay_lines.append(d)
                if PROMPT_END in line:
                    prompt_lines.append(d)

    lens = np.fromiter(map(len, texts), dtype=np.int32, count=len(texts))
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    values = np.frombuffer("".join(texts).encode("utf-32-le"), dtype="<i4")
    table = pa.Table.from_arrays(
        [pa.array([f"doc_{i:08d}" for i in range(start, start + count)],
                  pa.string()),
         pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
         pa.array(lens, pa.int32()),
         pa.array(sources, pa.string())],
        schema=datagen.TOKENIZED_SCHEMA)
    pq.write_table(table, path, row_group_size=max(count, 1))
    for s in sinks.values():
        s["sources"] = sorted(s["sources"])
        s["ts"] = [min(s["ts"]), max(s["ts"])] if s["ts"] else []
    return {"sev": sev, "sinks": sinks, "sources": Counter(sources),
            "replay_lines": b"".join(replay_lines),
            "prompt_lines": b"".join(prompt_lines)}


def _merge(parts: list[dict], n_docs: int,
           files: list[str]) -> tuple[dict, dict]:
    """Per-file partials -> (expect, stats) of one slice."""
    sev: dict[str, list] = {}
    sinks: dict[str, dict] = {}
    sources: Counter = Counter()
    for part in parts:
        for key, h in part["sev"].items():
            acc = sev.setdefault(key, [0, 0, 0, 0, 0])
            for j, v in enumerate(h):
                acc[j] += v
        for sink, s in part["sinks"].items():
            acc = sinks.setdefault(sink, {"n_rows": 0, "sources": set(),
                                          "ts": [],
                                          **{c: 0 for c in _SUMMED}})
            acc["n_rows"] += s["n_rows"]
            for c in _SUMMED:
                acc[c] += s[c]
            acc["sources"].update(s["sources"])
            acc["ts"] += s["ts"]
        sources.update(part["sources"])

    severity_rows = sorted(
        [json.loads(k) + v for k, v in sev.items()],
        key=lambda r: (r[0], r[1] or ""))
    summary_rows = [
        [sink, s["n_rows"], *(s[c] for c in _SUMMED),
         len(s["sources"]),
         min(s["ts"]) if s["ts"] else None,
         max(s["ts"]) if s["ts"] else None]
        for sink, s in sorted(sinks.items())]
    tokens = sum(s["n_tok"] for s in sinks.values())
    expect = {"rows": n_docs, "tokens": tokens,
              "severity_histogram": severity_rows,
              "sink_summary": summary_rows}
    stats = {"docs": n_docs, "tokens": tokens, "files": len(files),
             "bytes": sum(os.path.getsize(f) for f in files),
             "sources": dict(sources),
             "dead_letter": sinks.get(DEAD_LETTER_SINK, {}).get("n_rows", 0),
             "prompt_lines": b"".join(p["prompt_lines"] for p in parts).hex(),
             "replay_lines": b"".join(p["replay_lines"] for p in parts).hex()}
    return expect, stats


def _source_tag() -> str:
    h = hashlib.sha1()
    for path in (datagen.__file__, oracle.__file__, __file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _load(path: str) -> Slice:
    with open(os.path.join(path, "expect.json")) as fh:
        meta = json.load(fh)
    return Slice(path, meta["expect"], meta["stats"])


def prepare(spec: CorpusSpec, seed: int, n_slices: int, cache_root: str,
            processes: int) -> list[Slice]:
    """The first ``n_slices`` inputs of a workload's seeded document
    stream: slice ``i`` holds docs ``[i*n, (i+1)*n)`` with
    ``n = spec.docs_per_job``. Missing slices are built in one pool."""
    n = spec.docs_per_job
    tag = _source_tag()
    paths = [os.path.join(cache_root,
                          f"{spec.name}-n{n}-s{seed}-i{i}-{tag}")
             for i in range(n_slices)]
    missing = [i for i, p in enumerate(paths)
               if not os.path.exists(os.path.join(p, "expect.json"))]
    tmps, files, tasks = {}, {}, []
    for i in missing:
        tmps[i] = f"{paths[i]}.tmp{os.getpid()}"
        shutil.rmtree(tmps[i], ignore_errors=True)
        logs_dir = os.path.join(tmps[i], "tokenized_logs.parquet")
        os.makedirs(logs_dir)
        bounds = np.linspace(i * n, (i + 1) * n, N_FILES + 1).astype(int)
        files[i] = [os.path.join(logs_dir, f"part-{k:05d}.parquet")
                    for k in range(N_FILES)]
        tasks += [(spec.unique_lines, seed, int(bounds[k]),
                   int(bounds[k + 1] - bounds[k]), files[i][k])
                  for k in range(N_FILES)]
    if tasks:
        pool = multiprocessing.get_context("spawn").Pool(
            max(1, min(processes, len(tasks))))
        try:
            parts = pool.map(_build_file, tasks)
        finally:
            pool.close()
            pool.join()
            pool.terminate()  # runs the pool's finalizer: frees its queues
        del pool
        gc.collect()      # ...whose semaphores unregister as they go
        # The spawn context's semaphore tracker would otherwise outlive
        # this process by a moment; end it and wait for it here.
        resource_tracker._resource_tracker._stop()
    for j, i in enumerate(missing):
        pq.write_table(
            pa.Table.from_pylist(
                datagen.route_metadata_rows(N_SOURCES, seed),
                schema=datagen.ROUTE_SCHEMA),
            os.path.join(tmps[i], "route_metadata.parquet"))
        expect, stats = _merge(parts[j * N_FILES:(j + 1) * N_FILES], n,
                               files[i])
        with open(os.path.join(tmps[i], "expect.json"), "w") as fh:
            json.dump({"expect": expect, "stats": stats}, fh)
        try:
            os.rename(tmps[i], paths[i])
        except OSError:  # another run published the same slice first
            shutil.rmtree(tmps[i], ignore_errors=True)
    return [_load(p) for p in paths]


def _repeat_share(blobs: list[str]) -> float:
    """Share of lines whose exact text already occurred earlier in the
    document stream."""
    raw = bytes.fromhex("".join(blobs))
    total = len(raw) // 8
    return 1.0 - len({raw[i:i + 8] for i in range(0, len(raw), 8)}) / total \
        if total else 0.0


def describe(spec: CorpusSpec, seed: int, slices: list[Slice]) -> dict:
    """The input properties of a run's document stream."""
    docs = sum(s.stats["docs"] for s in slices)
    sources: Counter = Counter()
    for s in slices:
        sources.update(s.stats["sources"])
    return {
        "workload": spec.name, "seed": seed, "slices": len(slices),
        "docs_per_job": spec.docs_per_job,
        "tokens_per_job": round(statistics.mean(
            s.stats["tokens"] for s in slices)),
        "bytes_per_job": round(statistics.mean(
            s.stats["bytes"] for s in slices)),
        "files_per_job": N_FILES,
        "prompt_line_repeat_share": round(_repeat_share(
            [s.stats["prompt_lines"] for s in slices]), 4),
        "replay_line_repeat_share": round(_repeat_share(
            [s.stats["replay_lines"] for s in slices]), 4),
        "top_source_share": round(sources.most_common(1)[0][1] / docs, 4),
        "dead_letter_share": round(
            sum(s.stats["dead_letter"] for s in slices) / docs, 4),
    }

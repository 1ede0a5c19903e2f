"""Outside-in readings of a running Spark application.

* SQL metrics per execution, from the status store
  (``sharedState().statusStore()``), keyed by the job description the
  benchmark sets before each action.
* Peak resident memory of the driver JVM and its Python workers, sampled
  from ``/proc``.
* Shutdown of the gateway JVM and every process under it.
"""
from __future__ import annotations

import os
import re
import subprocess
import threading
import time

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string -> bytes, seconds or a plain number.

    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value on the second line."""
    line = text.split("\n")[-1].strip()
    m = _VALUE_RE.match(line)
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit in {text!r}")
    return value


class Execution:
    """One finished SQL execution: wall span, job count and node metrics
    as ``[(node_name, {metric_name: value})]``."""

    def __init__(self, ui_data, values, graph):
        self.id = ui_data.executionId()
        self.plan = ui_data.physicalPlanDescription()
        self.start = ui_data.submissionTime() / 1000.0
        done = ui_data.completionTime()
        if not done.isDefined():
            raise RuntimeError(f"SQL execution {self.id} has not finished")
        self.end = done.get().getTime() / 1000.0
        self.jobs = ui_data.jobs().size()
        self.nodes = []
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            metrics = {}
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                # "average" metrics print only a distribution, no total
                if v.isDefined() and m.metricType() != "average":
                    metrics[m.name()] = parse_metric(v.get())
            self.nodes.append((node.name(), metrics))

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def total(self, node_prefix: str, metric: str) -> float:
        """Sum of one metric over every node whose name starts with
        ``node_prefix``."""
        return sum(m.get(metric, 0.0) for name, m in self.nodes
                   if name.startswith(node_prefix))


def _matching(store, description: str) -> list:
    listed = store.executionsList()
    return [e for e in (listed.apply(i) for i in range(listed.size()))
            if e.description() == description]


def executions(spark, description: str,
               timeout_s: float = 60.0) -> list[Execution]:
    """Every finished SQL execution whose job description is
    ``description``, in submission order.

    The status store is fed asynchronously: an action can return before
    its execution's end event reaches the listener bus, and the store's
    listener then aggregates the final metrics on a thread of its own
    and only afterwards writes the completion time. So the bus is
    drained first, then the store is polled until every matching
    execution carries its completion time and final metrics."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
        int(timeout_s * 1000))
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + timeout_s
    found = _matching(store, description)
    while any(not e.completionTime().isDefined() or e.metricValues() is None
              for e in found) and time.monotonic() < deadline:
        time.sleep(0.02)
        found = _matching(store, description)
    return sorted((Execution(e, store.executionMetrics(e.executionId()),
                             store.planGraph(e.executionId()))
                   for e in found), key=lambda e: e.id)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) \
            .startswith("python")
    except OSError:
        return False


class RssSampler:
    """Background sampler of the JVM's and its Python workers' resident
    memory. ``peak_total`` is the largest JVM-plus-workers sum seen,
    ``peak_workers`` the largest workers-only sum.

    Only Python descendants count as workers: the JVM also spawns short
    shell commands (Hadoop's local file system shells out for file
    permissions), and such a child shares the JVM's pages until it
    execs, so its RSS would count the heap twice."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_total = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        workers = sum(rss_bytes(p) for p in descendants(self.jvm_pid)
                      if is_python(p))
        total = rss_bytes(self.jvm_pid) + workers
        self.peak_total = max(self.peak_total, total)
        self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][0] != "Z"
    except OSError:
        return False


def shutdown(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM, and wait until it and every
    process it started (Python worker daemons) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pid = gateway.proc.pid
    tree = [pid] + descendants(pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in tree):
        if time.monotonic() > deadline:
            for p in tree:
                if _alive(p):
                    os.kill(p, 9)
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)

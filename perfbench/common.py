"""Shared benchmark machinery: the run context (paths, seed, Spark
session lifecycle), the in-memory span tracer, output-check
accounting, percentiles and process-tree memory."""

from __future__ import annotations

import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ----------------------------------------------------------------- stats


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile
    with at least ten samples beyond it when there are 21 or more
    samples, else the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan"), 0
    k = n - 11 if n >= 21 else n - 1
    return s[k], 100.0 * (k + 1) / n, n - 1 - k


# ---------------------------------------------------------------- tracer


class Tracer:
    """Spans around the benchmark's calls into each layer, kept in
    memory and written out when the run ends. Disabled, ``span`` is a
    bare ``yield``. Spans nest; ``group`` ties together the spans of
    one query or one ingest batch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[tuple[int, str | None]] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        stack = self._stack
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if group is None and parent is not None:
            group = parent[1]
        stack.append((sid, group))
        self.bookkeeping_s += time.perf_counter() - b0
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            b1 = time.perf_counter()
            stack.pop()
            self.add(name, start, end, group, parent[0] if parent else None, sid)
            self.bookkeeping_s += time.perf_counter() - b1

    def add(self, name, start, end, group=None, parent=None, sid=None) -> int:
        """Record a span measured elsewhere (e.g. a streaming batch
        reported by the query's progress)."""
        if sid is None:
            sid = next(self._ids)
        self.spans.append({"id": sid, "name": name, "group": group, "parent": parent, "start": start, "end": end})
        return sid

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part covered by
        its children (children of one span never overlap: they run one
        after another, or are batches of one stream)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - child_s.get(s["id"], 0.0))
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------- checks


class Checks:
    """Output-check accounting: every timed operation is attempted once
    and fails if it raised or any of its checks failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def record(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(f"{what}: {'; '.join(problems)[:300]}")
        return not problems


# ------------------------------------------------------------------ memory


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and every
    live descendant: the JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def host_jiffies() -> tuple[int, int]:
    """(all, stolen) CPU jiffies of this machine since boot; stolen time
    is time the hypervisor ran someone else on our virtual CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


# ------------------------------------------------------------------- run


class Run:
    """One benchmark run: seed, duration, tracer, checks and a scratch
    directory inside the checkout that is removed at the end."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, cfg: dict):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cfg = cfg
        self.tracer = Tracer(trace)
        self.checks = Checks()
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))
        self.setup: dict[str, float] = {}
        self.detail: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self) -> float:
        """Start the session as ``local[cores]``; returns start time (s)."""
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            from kubernetes_logs_datalake_spark import get_spark

            self.spark = get_spark(
                f"perfbench-{self.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                },
            )
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark and its JVM, wait for it to exit, remove scratch."""
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:  # never leave the JVM behind
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)


def layer_metrics(tracer: Tracer, names: dict[str, str]) -> dict[str, float]:
    """Per-layer metric → median self time of one span name (0 when the
    workload never called that layer)."""
    st = tracer.self_times()
    return {metric: median(st[span]) if span in st else 0.0 for metric, span in names.items()}


def finite(x: float) -> float:
    return x if isinstance(x, (int, float)) and math.isfinite(x) else 0.0

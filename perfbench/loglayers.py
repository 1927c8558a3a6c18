"""Calls into the log layers shared by the log workloads: one y-logcli
query (selector → LogQuery → render) with its output check, scan
accounting from the executed plan, lake file accounting, and the
traced-run probes that time single layers in isolation."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.plans import LogQuery, parse_selector
from kubernetes_logs_datalake_spark.plans.render import render
from kubernetes_logs_datalake_spark.sources.arrow_ipc import read_arrow
from kubernetes_logs_datalake_spark.sources.cri import cri_rejects, parse_cri_lines
from kubernetes_logs_datalake_spark.sources.logs import LogLake

from perfbench.common import median
from perfbench.gen import MSG_NS_RE

CLUSTER = "bench"
NODE = "node-1"


@dataclass
class QueryResult:
    first_s: float
    last_s: float
    render_s: float
    records: list[tuple[int, int]]  # (ns, seq) in rendered order
    files_scanned: int = 0
    rows_scanned: int = 0


def selector_text(sel: dict[str, str]) -> str:
    return "{" + ",".join(f'{k}="{v}"' for k, v in sel.items()) + "}"


def run_query(run, lake: LogLake, sel: str, since, fmt: str, output: str, t0: float, group: str) -> QueryResult:
    """One y-logcli query, timed from ``t0`` (perf_counter) to the first
    and the last rendered line."""
    tr = run.tracer
    first = None
    lines = []
    with tr.span("search.query", group):
        with tr.span("plans.selector.parse"):
            selectors = parse_selector(sel)
        q = LogQuery(lake, cluster=CLUSTER, selectors=selectors, since=since, fmt=fmt, output=output)
        with tr.span("plans.logquery.projected"):
            df = q.projected(run.spark)
        r0 = time.perf_counter()
        with tr.span("plans.render"):
            for line in render(df, output):
                if first is None:
                    first = time.perf_counter()
                lines.append(line)
    last = time.perf_counter()
    recs = [(int(a), int(b)) for a, b in MSG_NS_RE.findall("\n".join(lines))]
    res = QueryResult((first or last) - t0, last - t0, last - r0, recs)
    if tr.enabled and output != "table":  # table mode executes a separate limit plan
        res.files_scanned, res.rows_scanned = scan_stats(df)
    return res


def ordered(recs: list[tuple[int, int]]) -> list[str]:
    ns = [r[0] for r in recs]
    return [] if all(a <= b for a, b in zip(ns, ns[1:])) else ["time_ns decreases in rendered order"]


def scan_stats(df) -> tuple[int, int]:
    """(files, rows) read by the scans of ``df``'s executed plan: parquet
    scans count their output rows, Arrow IPC scans the rows their
    decode emits."""
    files = rows = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        metrics = p.metrics()

        def metric(name):
            m = metrics.get(name)
            return int(m.get().value()) if m.isDefined() else 0

        if cls == "FileSourceScanExec":
            files += metric("numFiles")
            if "parquet" in p.relation().fileFormat().toString().lower():
                rows += metric("numOutputRows")
        elif cls == "MapInArrowExec":
            rows += metric("numOutputRows")
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return files, rows


def lake_files(root: str) -> dict[str, int]:
    out = {"parquet_files": 0, "parquet_bytes": 0, "arrow_files": 0, "arrow_bytes": 0}
    for d, _, names in os.walk(root):
        for n in names:
            for ext in ("parquet", "arrow"):
                if n.endswith("." + ext) and not n.startswith((".", "_")):
                    out[f"{ext}_files"] += 1
                    out[f"{ext}_bytes"] += os.path.getsize(os.path.join(d, n))
    return out


def cri_source(spark, logs_dir: str):
    return (
        spark.read.option("recursiveFileLookup", "true").option("pathGlobFilter", "*.log")
        .text(logs_dir).withColumn("path", F.input_file_name())
    )


def probe_layers(run, logs_dir: str | None, lake_root: str | None, positional_root: str | None = None) -> dict:
    """Traced run only: time single layers on this workload's own
    inputs, each through a ``noop`` sink or a plan build, and count
    their work. Returns the per-layer counts measured here."""
    tr, spark = run.tracer, run.spark
    counts: dict[str, float] = {}
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    if logs_dir is not None:
        raw = cri_source(spark, logs_dir)
        with tr.span("sources.cri.parse", "probe-cri"):
            noop(parse_cri_lines(raw, path_col="path", cluster=CLUSTER, node=NODE))
        lines_in = raw.count()
        parsed = parse_cri_lines(raw, path_col="path", cluster=CLUSTER, node=NODE).persist()
        rows_out = parsed.count()
        rejects = cri_rejects(raw).count()
        counts.update({
            "cri.lines_in": lines_in, "cri.rows_out": rows_out,
            "cri.reject_ratio": rejects / lines_in if lines_in else 0.0,
        })
        probe = LogLake(run.path("probe-lake"))
        with tr.span("sources.logs.write_parquet", "probe-write"):
            probe.write_batch(parsed, fmt="parquet")
        with tr.span("sources.arrow_ipc.write", "probe-write"):
            probe.write_batch(parsed, fmt="arrow")
        parsed.unpersist()
    if lake_root is not None:
        lake = LogLake(lake_root)
        with tr.span("sources.logs.read_native_plan", "probe-read"):
            lake.read(spark, fmt="parquet")
        with tr.span("sources.arrow_ipc.read_probe", "probe-read"):
            read_arrow(spark, lake_root)
        with tr.span("sources.arrow_ipc.decode", "probe-read"):
            noop(read_arrow(spark, lake_root))
    if positional_root is not None:
        with tr.span("sources.logs.read_positional_plan", "probe-read"):
            LogLake(positional_root, layout="positional").read(spark, fmt="parquet")
    return counts


def progress_batches(progress: list[dict]) -> list[dict]:
    """Streaming progress entries → batches with wall-clock start/end,
    input rows and the addBatch / fixed-overhead split."""
    from datetime import datetime

    out = []
    for p in progress:
        dur = p.get("durationMs") or {}
        if not p.get("numInputRows"):
            continue
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        total = dur.get("triggerExecution", 0) / 1000
        add = dur.get("addBatch", 0) / 1000
        out.append({
            "batch": p["batchId"], "run": p["runId"], "start": start, "end": start + total,
            "rows": p["numInputRows"], "trigger_s": total, "addbatch_s": add,
            "commit_s": dur.get("commitOffsets", 0) / 1000,
        })
    return out


def trace_batches(tracer, batches: list[dict]) -> None:
    """Record streaming batches as spans: one per batch, with its
    addBatch (the foreachBatch dual-format write) as a child placed just
    before the offset commit."""
    for b in batches:
        group = f"batch-{b['run'][:8]}-{b['batch']}"
        sid = tracer.add("streaming.ingest.batch", b["start"], b["end"], group)
        add_end = b["end"] - b["commit_s"]
        tracer.add("streaming.ingest.addBatch", add_end - b["addbatch_s"], add_end, group, sid)


def query_layer_metrics(per_mode: dict[str, list[QueryResult]]) -> dict[str, float]:
    """Per-query medians of scan accounting and rendering, by output mode.
    Scan counts come from iterated plans (table mode runs its own)."""
    scans = [r for rs in per_mode.values() for r in rs]
    iterated = [r for r in scans if r.rows_scanned]
    scanned = sum(r.rows_scanned for r in iterated)
    out = {
        "logquery.files_scanned": median([r.files_scanned for r in iterated]) if iterated else 0.0,
        "logquery.rows_scanned": median([r.rows_scanned for r in iterated]) if iterated else 0.0,
        "logquery.rows_returned": median([len(r.records) for r in scans]) if scans else 0.0,
        "logquery.rows_returned_per_scanned":
            sum(len(r.records) for r in iterated) / scanned if scanned else 0.0,
    }
    for mode, rs in per_mode.items():
        out[f"render.{mode}_lines"] = median([len(r.records) for r in rs])
        out[f"render.{mode}_s"] = median([r.render_s for r in rs])
    return out


def ingest_layer_metrics(batches: list[dict]) -> dict[str, float]:
    return {
        "ingest.batches": len(batches),
        "ingest.batch_s_p50": median([b["trigger_s"] for b in batches]) if batches else 0.0,
        "ingest.addbatch_s_sum": sum(b["addbatch_s"] for b in batches),
        "ingest.overhead_s_sum": sum(b["trigger_s"] - b["addbatch_s"] for b in batches),
        "ingest.rows_per_batch_p50": median([b["rows"] for b in batches]) if batches else 0.0,
    }

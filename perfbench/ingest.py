"""``ingest_backfill``: an ingest DaemonSet draining a backlog.

Closed loop, one job at a time: each iteration drains the same seeded
backlog of CRI files with ``IngestJob`` (Parquet and Arrow IPC) into a
fresh lake and checkpoint, then checks what landed (untimed)."""

from __future__ import annotations

import glob
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.ipc as ipc
import pyarrow.parquet as pq

from kubernetes_logs_datalake_spark.streaming.ingest import IngestJob

from perfbench import gen
from perfbench.common import median, tail
from perfbench.loglayers import (
    CLUSTER, NODE, ingest_layer_metrics, lake_files, probe_layers, progress_batches, trace_batches,
)

SCHEMA = pa.schema([("time_ns", pa.int64()), ("logtag", pa.string()), ("message", pa.string())])



def drain(run, logs_dir: str, lake_root: str, cfg: dict, group: str):
    """Drain ``logs_dir`` into a fresh lake: (seconds to all committed,
    seconds to the first batch committed, batches)."""
    job = IngestJob(
        logs_dir=logs_dir, lake_root=lake_root, cluster=CLUSTER, node=NODE,
        trigger_seconds=cfg["trigger_seconds"], max_files_per_trigger=cfg["max_files_per_trigger"],
    )
    with run.tracer.span("ingest.drain", group):
        w0, t0 = time.time(), time.perf_counter()
        query = job.start(run.spark)
        job.process_available()
        elapsed = time.perf_counter() - t0
        batches = progress_batches(query.recentProgress)
        job.stop_gracefully()
    first = min(b["end"] for b in batches) - w0 if batches else elapsed
    return elapsed, first, batches


def read_arrow_file(path: str) -> pa.Table:
    with pa.OSFile(path) as src:
        return ipc.open_file(src).read_all()


def check_lake(lake_root: str, files: list[gen.CriFile]) -> list[str]:
    """Both formats hold exactly the parsed lines, and every record's
    time_ns equals the ns its generator wrote into the message. Reads
    the written files with pyarrow, apart from the program's reader."""
    want = {
        "rows": sum(f.rows for f in files),
        "p": sum(f.p_rows for f in files),
        "ns_rows": sum(len(f.records) for f in files),
        "bad_ns": 0,
    }
    problems = []
    for fmt, read in (("parquet", pq.read_table), ("arrow", read_arrow_file)):
        paths = glob.glob(f"{lake_root}/**/*.{fmt}", recursive=True)
        tbl = pa.concat_tables(read(p).select(["time_ns", "logtag", "message"]).cast(SCHEMA) for p in paths)
        ns = pc.struct_field(pc.extract_regex(tbl["message"], r'^\{"ns":(?P<ns>\d+),'), 0).cast(pa.int64())
        got = {
            "rows": tbl.num_rows,
            "p": pc.sum(pc.equal(tbl["logtag"], "P")).as_py() or 0,
            "ns_rows": len(ns) - ns.null_count,
            "bad_ns": pc.sum(pc.not_equal(ns, tbl["time_ns"])).as_py() or 0,
        }
        problems += [f"{fmt} {k}={got[k]} want {v}" for k, v in want.items() if got[k] != v]
    return problems


def setup(run) -> dict:
    cfg = run.cfg
    logs_dir = run.path("backlog")
    t0 = time.perf_counter()
    files = gen.backlog(logs_dir, run.seed, cfg)
    run.setup["inputs_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    for k in range(cfg["warmup_drains"]):  # the first drains of a session run far slower
        warm = run.path(f"warm-lake-{k}")
        drain(run, logs_dir, warm, cfg, "warmup")
        shutil.rmtree(warm)
    run.setup["warmup_s"] = time.perf_counter() - t0
    run.detail["backlog"] = {
        "files": len(files), "lines": sum(f.lines for f in files),
        "rows": sum(f.rows for f in files), "bytes": sum(f.nbytes for f in files),
    }
    return {"logs_dir": logs_dir, "files": files, "iteration": 0}


def measure(run, st: dict) -> dict:
    drains, firsts, st["batches"] = [], [], []
    measured = 0.0
    while measured < run.seconds:
        i = st["iteration"] = st["iteration"] + 1
        st["lake_root"] = run.path(f"lake-{i}")
        try:
            elapsed, first, batches = drain(run, st["logs_dir"], st["lake_root"], run.cfg, f"drain-{i}")
            problems = check_lake(st["lake_root"], st["files"])
        except Exception as exc:  # noqa: BLE001 — a failed drain is counted, not fatal
            elapsed, first, batches, problems = 1.0, None, [], [f"{type(exc).__name__}: {exc}"]
        measured += elapsed
        if run.checks.record(f"drain-{i}", problems):
            drains.append(elapsed)
            firsts.append(first)
            st["batches"].extend(batches)
    rows = run.detail["backlog"]["rows"]
    t_tail, pct, beyond = tail(drains)
    run.detail.update({"drain_s": drains, "tail_pct": pct, "tail_beyond": beyond})
    return {"p50_s": median(drains), "tail_s": t_tail, "first_p50_s": median(firsts),
            "throughput_per_s": rows / median(drains)}


def layers(run, st: dict) -> dict:
    trace_batches(run.tracer, st["batches"])
    out = ingest_layer_metrics(st["batches"])
    fl = lake_files(st["lake_root"])
    out.update({
        "logs.parquet_files": fl["parquet_files"], "logs.parquet_bytes": fl["parquet_bytes"],
        "arrow.files": fl["arrow_files"], "arrow.bytes": fl["arrow_bytes"],
        "ingest.lake_bytes_per_input_byte":
            (fl["parquet_bytes"] + fl["arrow_bytes"]) / run.detail["backlog"]["bytes"],
    })
    out.update(probe_layers(run, st["logs_dir"], st["lake_root"]))
    return out

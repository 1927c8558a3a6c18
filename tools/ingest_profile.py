#!/usr/bin/env python
"""Profile WHERE ingest time goes (r14 verdict task #7): the BENCH
ingest number (~13.7k lines/s at sf0.1) has been flat across rounds
and never decomposed — at 100 TB the ingest rate IS the SLA, so find
the constraint before trying to move it.

Stages measured on the same deterministic CRI corpus bench_ingest
uses, one session, REPS timed runs each with rep 1 discarded:

- scan          raw text file scan only (read + count)
- parse_noop    scan + CRI regex parse (JVM regexp_extract) -> noop sink
- parquet_only  full streaming IngestJob, parquet files only
- arrow_only    full streaming IngestJob, arrow files only
- dual          the bench configuration (both formats). Every variant
                runs the same one-pass writer: one groupBy(cluster,
                namespace, date).applyInArrow per batch — the Python
                stage — that sorts each partition by time_ns and writes
                the requested formats from that one table; the
                format-only variants isolate one format's file-writing
                cost
- dual_batch    same parse + the same one-pass writer, BATCH mode (no
                streaming machinery, no persist) — the stream-overhead
                delta
- arrow_only_big_batches
                arrow_only with spark.sql.execution.arrow.
                maxRecordsPerBatch raised 10k -> 64k (does Arrow batch
                sizing move the Python writer stage?)

Usage: python tools/ingest_profile.py [sf] [reps]   (default 0.1 3)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402 — ensure_cri_corpus lives there
from kubernetes_logs_datalake_spark import get_spark  # noqa: E402


def _median_of_warm(walls: list[float]) -> float:
    return round(statistics.median(walls[1:]), 3)


def _run_stream(spark, logs_dir, formats) -> float:
    from kubernetes_logs_datalake_spark.streaming.ingest import IngestJob

    lake_root = tempfile.mkdtemp(prefix="ingest-prof-")
    shutil.rmtree(lake_root)
    job = IngestJob(
        logs_dir=logs_dir, lake_root=lake_root, cluster="prof",
        trigger_seconds=1, formats=formats,
    )
    t0 = time.time()
    try:
        job.start(spark)
        job.process_available()
    finally:
        job.stop_gracefully()
        elapsed = time.time() - t0
        shutil.rmtree(lake_root, ignore_errors=True)
        shutil.rmtree(lake_root + "_checkpoint", ignore_errors=True)
    return elapsed


def _run_batch_dual(spark, logs_dir) -> float:
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.sources.cri import parse_cri_lines
    from kubernetes_logs_datalake_spark.sources.logs import LogLake

    lake_root = tempfile.mkdtemp(prefix="ingest-prof-batch-")
    shutil.rmtree(lake_root)
    t0 = time.time()
    raw = (
        spark.read.format("text")
        .option("pathGlobFilter", "*.log")
        .option("recursiveFileLookup", "true")
        .load(logs_dir)
        .withColumn("path", F.input_file_name())
    )
    rec = parse_cri_lines(
        raw, path_col="path", cluster="prof", node="local"
    )
    try:
        LogLake(lake_root).write_formats(rec, ("parquet", "arrow"), "profile")
    finally:
        elapsed = time.time() - t0
        shutil.rmtree(lake_root, ignore_errors=True)
    return elapsed


def main() -> None:
    from pyspark.sql import functions as F

    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(
        "ingest-profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    logs_dir, total_lines = bench.ensure_cri_corpus(sf)

    from kubernetes_logs_datalake_spark.sources.cri import parse_cri_lines

    out: dict[str, dict] = {}

    def record(name, walls):
        med = _median_of_warm(walls)
        out[name] = {
            "sec": med,
            "lines_per_sec": round(total_lines / med) if med else None,
            "walls": [round(w, 3) for w in walls],
        }

    # stage 1: the raw scan
    walls = []
    for _ in range(reps + 1):
        t0 = time.time()
        (
            spark.read.format("text")
            .option("pathGlobFilter", "*.log")
            .option("recursiveFileLookup", "true")
            .load(logs_dir)
            .count()
        )
        walls.append(time.time() - t0)
    record("scan", walls)

    # stage 2: scan + parse -> noop
    walls = []
    for _ in range(reps + 1):
        t0 = time.time()
        raw = (
            spark.read.format("text")
            .option("pathGlobFilter", "*.log")
            .option("recursiveFileLookup", "true")
            .load(logs_dir)
            .withColumn("path", F.input_file_name())
        )
        parse_cri_lines(
            raw, path_col="path", cluster="prof", node="local"
        ).write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
    record("parse_noop", walls)

    # streaming variants
    for name, formats in (
        ("parquet_only", ("parquet",)),
        ("arrow_only", ("arrow",)),
        ("dual", ("parquet", "arrow")),
    ):
        walls = [
            _run_stream(spark, logs_dir, formats) for _ in range(reps + 1)
        ]
        record(name, walls)

    # batch-mode dual (stream overhead delta vs "dual")
    walls = [_run_batch_dual(spark, logs_dir) for _ in range(reps + 1)]
    record("dual_batch", walls)

    # arrow sink with bigger Arrow batches
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "65536")
    try:
        walls = [
            _run_stream(spark, logs_dir, ("arrow",))
            for _ in range(reps + 1)
        ]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    record("arrow_only_big_batches", walls)

    print(json.dumps({
        "sf": sf, "total_lines": total_lines, "reps": reps,
        "stages": out,
    }))


if __name__ == "__main__":
    main()

"""Streaming ingest behavioral tests, mirroring the reference's flush
suite (test.sh 7h-7l) against local directories:

- content arrives per format with derived dims + cluster (7a-7c)
- new files become visible promptly (close-write analog, 7l)
- graceful stop commits everything buffered (SIGTERM analog, 7j)
- restart from checkpoint does not duplicate, new data flows (7k/T6)
- the excluded container's logs never enter the lake (P5)
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.sources.logs import LogLake
from kubernetes_logs_datalake_spark.streaming.ingest import IngestJob


def write_log(pods_dir, ns, pod, container, lines, fname="0.log"):
    d = os.path.join(pods_dir, "var/log/pods", f"{ns}_{pod}_uid{pod}", container)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, fname), "w") as f:
        f.write("\n".join(lines) + "\n")


def ts(i):
    return f"2024-01-15T10:30:{i % 60:02d}.{i:09d}Z"


@pytest.fixture()
def pods_dir(tmp_path):
    return str(tmp_path / "logs")


def test_ingest_end_to_end(spark, pods_dir, tmp_path):
    lake_root = str(tmp_path / "lake")
    write_log(pods_dir, "qa", "app-1", "app", [f"{ts(i)} stdout F marker-a {i}" for i in range(20)])
    write_log(pods_dir, "qa", "fb-0", "fluent-bit", [f"{ts(i)} stdout F selflog {i}" for i in range(5)])

    job = IngestJob(
        logs_dir=pods_dir, lake_root=lake_root, cluster="dev", node="n1",
        trigger_seconds=1,
    )
    job.start(spark)
    try:
        job.process_available()
        lake = LogLake(lake_root)

        # 7a: content arrival, both formats
        pq = lake.read(spark, fmt="parquet")
        assert pq.filter(F.col("message").contains("marker-a")).count() == 20
        ar = lake.read(spark, fmt="arrow")
        assert ar.filter(F.col("message").contains("marker-a")).count() == 20

        # 7b/7c: derived dims + cluster
        row = pq.filter(F.col("message").contains("marker-a 3")).first()
        assert (row.namespace, row.pod, row.container, row.cluster, row.node) == (
            "qa", "app-1", "app", "dev", "n1",
        )

        # P5: excluded container absent
        assert pq.filter(F.col("container") == "fluent-bit").count() == 0

        # 7l close-write analog: a new file (terminated pod's rotated log)
        # becomes queryable at the next drain
        write_log(pods_dir, "prod", "job-9", "main", [f"{ts(i)} stderr F done-marker" for i in range(3)])
        job.process_available()
        assert (
            lake.read(spark, fmt="parquet")
            .filter(F.col("message") == "done-marker").count() == 3
        )
    finally:
        # 7j: graceful stop completes in-flight work
        job.stop_gracefully()


def test_restart_from_checkpoint_no_duplicates(spark, pods_dir, tmp_path):
    lake_root = str(tmp_path / "lake2")
    write_log(pods_dir, "qa", "app-1", "app", [f"{ts(i)} stdout F first-batch {i}" for i in range(10)])

    job = IngestJob(logs_dir=pods_dir, lake_root=lake_root, cluster="dev", trigger_seconds=1)
    job.start(spark)
    job.process_available()
    job.stop_gracefully()

    lake = LogLake(lake_root)
    assert lake.read(spark).filter(F.col("message").contains("first-batch")).count() == 10

    # restart with the same checkpoint; add new data
    write_log(pods_dir, "qa", "app-1", "app",
              [f"{ts(i)} stdout F second-batch {i}" for i in range(7)], fname="1.log")
    job2 = IngestJob(logs_dir=pods_dir, lake_root=lake_root, cluster="dev", trigger_seconds=1)
    job2.start(spark)
    job2.process_available()
    job2.stop_gracefully()

    df = lake.read(spark)
    # old file not re-ingested (checkpointed offsets), new file ingested
    assert df.filter(F.col("message").contains("first-batch")).count() == 10
    assert df.filter(F.col("message").contains("second-batch")).count() == 7


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_compaction_preserves_rows(spark, pods_dir, tmp_path, scheme):
    """Parameterized over a plain path and an explicit Hadoop FS URI —
    compaction must go through the FileSystem API, not os/shutil."""
    from kubernetes_logs_datalake_spark.sources.compact import compact_lake

    lake_root = scheme + str(tmp_path / "lake3")
    write_log(pods_dir, "qa", "app-1", "app", [f"{ts(i)} stdout F c-{i}" for i in range(50)])
    job = IngestJob(
        logs_dir=pods_dir, lake_root=lake_root, cluster="dev",
        trigger_seconds=1, formats=("parquet",), max_files_per_trigger=5,
    )
    job.start(spark)
    job.process_available()
    job.stop_gracefully()

    lake = LogLake(lake_root)
    # second batch → the partition holds multiple small files
    from kubernetes_logs_datalake_spark.sources import parse_cri_lines

    extra = spark.createDataFrame(
        [("/var/log/pods/qa_app-1_uid1/app/0.log", f"{ts(50 + i)} stdout F x-{i}")
         for i in range(10)],
        ["path", "value"],
    )
    lake.write_batch(parse_cri_lines(extra, path_col="path", cluster="dev"))
    before = lake.read(spark).count()
    import glob as globmod

    local_root = lake_root.removeprefix("file://")
    n_files_before = len(globmod.glob(f"{local_root}/**/*.parquet", recursive=True))
    assert n_files_before >= 2
    compact_lake(spark, lake_root)
    after = lake.read(spark).count()
    assert before == after == 60
    n_files_after = len(globmod.glob(f"{local_root}/**/*.parquet", recursive=True))
    assert n_files_after < n_files_before  # small files actually merged
    # idempotent: re-running on an already-compacted lake is a no-op
    compact_lake(spark, lake_root)
    assert lake.read(spark).count() == 60
    assert len(globmod.glob(f"{local_root}/**/*.parquet", recursive=True)) == n_files_after


def test_compaction_spares_concurrent_appends(spark, pods_dir, tmp_path):
    """A batch appended between compaction's snapshot and its deletes
    must survive (regression: the whole-tree swap deleted it). Simulated
    by appending after a first compaction and re-compacting: only
    snapshot files are ever deleted, so data never straddles a delete."""
    from kubernetes_logs_datalake_spark.sources import parse_cri_lines
    from kubernetes_logs_datalake_spark.sources.compact import compact_lake

    lake_root = str(tmp_path / "lake3b")
    lake = LogLake(lake_root)
    raw1 = spark.createDataFrame(
        [("/var/log/pods/qa_p_u/app/0.log", f"{ts(i)} stdout F a-{i}") for i in range(10)],
        ["path", "value"],
    )
    lake.write_batch(parse_cri_lines(raw1, path_col="path", cluster="c"))
    compact_lake(spark, lake_root, min_files=1)
    # late batch lands after compaction snapshot/rewrite
    raw2 = spark.createDataFrame(
        [("/var/log/pods/qa_p_u/app/0.log", f"{ts(i)} stdout F b-{i}") for i in range(5)],
        ["path", "value"],
    )
    lake.write_batch(parse_cri_lines(raw2, path_col="path", cluster="c"))
    compact_lake(spark, lake_root, min_files=1)
    msgs = {r.message for r in lake.read(spark).collect()}
    assert len(msgs) == 15 and "b-4" in msgs and "a-9" in msgs


def test_compaction_dual_format_checkpoint_integration(spark, pods_dir, tmp_path):
    """Integration over one qualified (file://-scheme) root: streaming
    dual-format ingest with checkpointed offsets, then compaction, then
    a restart. Compaction must shrink both formats with their rows
    unchanged, the checkpoint survives byte-for-byte, and the restarted
    stream resumes from its offsets (no re-ingest) while new data still
    flows. Catches scheme-handling regressions none of the single-
    feature tests can."""
    import glob as globmod

    from kubernetes_logs_datalake_spark.sources.compact import compact_lake

    local_root = str(tmp_path / "lake6")
    lake_root = "file://" + local_root
    write_log(pods_dir, "qa", "app-1", "app",
              [f"{ts(i)} stdout F int-{i}" for i in range(30)])
    job = IngestJob(
        logs_dir=pods_dir, lake_root=lake_root, cluster="dev",
        trigger_seconds=1, max_files_per_trigger=3,
    )
    job.start(spark)
    job.process_available()
    # second file before stopping → more small parquet files
    write_log(pods_dir, "qa", "app-1", "app",
              [f"{ts(30 + i)} stdout F int-{30 + i}" for i in range(10)], fname="1.log")
    job.process_available()
    job.stop_gracefully()

    lake = LogLake(lake_root)
    assert lake.read(spark, fmt="parquet").count() == 40
    n_arrow = sorted(globmod.glob(f"{local_root}/**/*.arrow", recursive=True))
    n_pq_before = len(globmod.glob(f"{local_root}/**/*.parquet", recursive=True))
    assert n_pq_before >= 2 and len(n_arrow) >= 1
    ckpt_dir = local_root + "_checkpoint"
    ckpt_files_before = sorted(globmod.glob(f"{ckpt_dir}/**", recursive=True))
    assert ckpt_files_before, "checkpoint must live outside the lake root"

    compact_lake(spark, lake_root)

    # both formats shrank, rows identical, both formats still queryable
    assert len(globmod.glob(f"{local_root}/**/*.parquet", recursive=True)) < n_pq_before
    assert lake.read(spark, fmt="parquet").count() == 40
    assert len(globmod.glob(f"{local_root}/**/*.arrow", recursive=True)) < len(n_arrow)
    assert lake.read(spark, fmt="arrow").count() == 40
    # checkpoint untouched by compaction
    assert sorted(globmod.glob(f"{ckpt_dir}/**", recursive=True)) == ckpt_files_before

    # restart: offsets intact (no re-ingest), new data flows
    write_log(pods_dir, "prod", "late-1", "main",
              [f"{ts(50)} stdout F post-compact"], fname="0.log")
    job2 = IngestJob(
        logs_dir=pods_dir, lake_root=lake_root, cluster="dev",
        trigger_seconds=1, max_files_per_trigger=3,
    )
    job2.start(spark)
    job2.process_available()
    job2.stop_gracefully()
    df = lake.read(spark, fmt="parquet")
    assert df.filter(F.col("message").startswith("int-")).count() == 40
    assert df.filter(F.col("message") == "post-compact").count() == 1


def test_lake_read_stream(spark, pods_dir, tmp_path):
    """Downstream consumers tail the lake itself as a stream."""
    lake_root = str(tmp_path / "lake4")
    write_log(pods_dir, "qa", "app-1", "app", [f"{ts(i)} stdout F s-{i}" for i in range(15)])
    job = IngestJob(logs_dir=pods_dir, lake_root=lake_root, cluster="dev",
                    trigger_seconds=1, formats=("parquet",))
    job.start(spark)
    job.process_available()
    job.stop_gracefully()

    stream = LogLake(lake_root).read_stream(spark)
    assert stream.isStreaming
    q = (stream.groupBy("namespace").count()
         .writeStream.format("memory").queryName("lake_tail")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        rows = {(r.namespace, r["count"]) for r in spark.sql("SELECT * FROM lake_tail").collect()}
        assert rows == {("qa", 15)}
    finally:
        q.stop()


def test_compaction_preserves_arrow_side(spark, pods_dir, tmp_path):
    """The Arrow IPC side of a dual-format lake survives compaction of
    the Parquet side (regression: a directory swap silently deleted it);
    its single file per partition is below ``min_files`` and stays."""
    import glob as globmod

    from kubernetes_logs_datalake_spark.sources import parse_cri_lines
    from kubernetes_logs_datalake_spark.sources.compact import compact_lake

    lake_root = str(tmp_path / "lake5")
    raw = spark.createDataFrame(
        [("/var/log/pods/qa_p_u/app/0.log", f"{ts(i)} stdout F d-{i}") for i in range(20)],
        ["path", "value"],
    )
    lake = LogLake(lake_root)
    rec = parse_cri_lines(raw, path_col="path", cluster="c")
    lake.write_batch(rec, fmt="parquet")
    lake.write_batch(rec, fmt="arrow")
    n_arrow_before = len(globmod.glob(f"{lake_root}/**/*.arrow", recursive=True))
    assert n_arrow_before >= 1

    compact_lake(spark, lake_root)
    assert len(globmod.glob(f"{lake_root}/**/*.arrow", recursive=True)) == n_arrow_before
    assert lake.read(spark, fmt="parquet").count() == 20
    assert lake.read(spark, fmt="arrow").count() == 20


def _qa_records(spark, n, tag):
    from kubernetes_logs_datalake_spark.sources import parse_cri_lines

    raw = spark.createDataFrame(
        [("/var/log/pods/qa_p_u/app/0.log", f"{ts(i)} stdout F {tag}-{i}") for i in range(n)],
        ["path", "value"],
    )
    return parse_cri_lines(raw, path_col="path", cluster="c")


def _lake_files(root, ext):
    import glob as globmod

    return sorted(globmod.glob(f"{root}/**/*.{ext}", recursive=True))


def test_replayed_epoch_overwrites_its_own_files(spark, pods_dir, tmp_path):
    """An epoch written twice (a replay after a crash before the offset
    commit) leaves exactly one copy per format; the next epoch appends."""
    lake_root = str(tmp_path / "lake7")
    write_log(pods_dir, "qa", "app-1", "app", [f"{ts(i)} stdout F s-{i}" for i in range(5)])
    job = IngestJob(logs_dir=pods_dir, lake_root=lake_root, cluster="c", trigger_seconds=1)
    job.start(spark)
    job.stop_gracefully()  # epoch 0 from the stream; the checkpoint now has its query id
    rec = _qa_records(spark, 25, "e")
    lake = LogLake(lake_root)
    job._write_epoch(rec, 7)
    files = {ext: _lake_files(lake_root, ext) for ext in ("parquet", "arrow")}
    job._write_epoch(rec, 7)
    assert {ext: _lake_files(lake_root, ext) for ext in files} == files
    assert lake.read(spark, fmt="parquet").count() == 30
    assert lake.read(spark, fmt="arrow").count() == 30
    job._write_epoch(rec, 8)
    assert lake.read(spark, fmt="parquet").count() == 55
    assert lake.read(spark, fmt="arrow").count() == 55


def test_streams_with_the_same_checkpoint_path_keep_each_others_files(spark, tmp_path):
    """One stream per node into one lake, each node's checkpoint at the
    same path on its own disk (a hostPath mount): node B's epoch 0 lands
    in the same partition directory as node A's and must not replace it."""
    lake_root, ckpt = str(tmp_path / "lake11"), str(tmp_path / "ckpt")
    for node in ("node-a", "node-b"):
        logs = str(tmp_path / f"logs-{node}")
        write_log(logs, "qa", "app-1", "app", [f"{ts(i)} stdout F {node}-{i}" for i in range(10)])
        job = IngestJob(logs_dir=logs, lake_root=lake_root, cluster="c", node=node,
                        checkpoint=ckpt, trigger_seconds=1)
        job.start(spark)
        job.stop_gracefully()
        os.rename(ckpt, f"{ckpt}-{node}")  # the next node's checkpoint is another disk
    lake = LogLake(lake_root)
    for fmt in ("parquet", "arrow"):
        got = {r.node: r["count"] for r in lake.read(spark, fmt=fmt).groupBy("node").count().collect()}
        assert got == {"node-a": 10, "node-b": 10}, fmt


def test_write_batch_overwrite_raises_and_keeps_the_lake(spark, tmp_path):
    """mode='overwrite' must not wipe the root (the other format and
    every other partition live there): both formats refuse it before
    writing anything."""
    lake_root = str(tmp_path / "lake8")
    lake = LogLake(lake_root)
    rec = _qa_records(spark, 12, "k")
    lake.write_batch(rec, fmt="parquet")
    lake.write_batch(rec, fmt="arrow")
    before = {ext: _lake_files(lake_root, ext) for ext in ("parquet", "arrow")}
    for fmt in ("parquet", "arrow"):
        with pytest.raises(ValueError, match="append"):
            lake.write_batch(_qa_records(spark, 3, "new"), fmt=fmt, mode="overwrite")
    assert {ext: _lake_files(lake_root, ext) for ext in before} == before
    assert lake.read(spark, fmt="parquet").count() == 12
    assert lake.read(spark, fmt="arrow").count() == 12


def test_ingest_batch_runs_at_most_two_spark_jobs(spark, pods_dir, tmp_path):
    """One non-empty dual-format micro-batch is one grouped pass: the
    shuffle and its collect, no persist/isEmpty/range-sample jobs."""
    for k in range(3):
        write_log(pods_dir, f"ns{k}", "app-1", "app",
                  [f"{ts(i)} stdout F j-{k}-{i}" for i in range(40)])
    lake_root = str(tmp_path / "lake9")
    job = IngestJob(logs_dir=pods_dir, lake_root=lake_root, cluster="dev", trigger_seconds=1)
    query = job.start(spark)
    try:
        job.process_available()
        batches = [p for p in query.recentProgress if p["numInputRows"]]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    finally:
        job.stop_gracefully()
    assert len(batches) == 1
    assert 1 <= len(jobs) <= 2, jobs
    lake = LogLake(lake_root)
    assert lake.read(spark, fmt="parquet").count() == 120
    assert lake.read(spark, fmt="arrow").count() == 120


def test_partition_values_round_trip_in_both_formats(spark, tmp_path):
    """Partition values that need escaping in a directory name (an EKS
    cluster ARN holds ':' and '/', '%' and '+' are literal) and the
    empty value (read back as null, as Spark writes it) read back the
    same from both formats."""
    from kubernetes_logs_datalake_spark.sources import parse_cri_lines

    raw = spark.createDataFrame(
        [("/var/log/pods/qa_p_u/app/0.log", f"{ts(i)} stdout F v-{i}") for i in range(4)],
        ["path", "value"],
    )
    lake = LogLake(str(tmp_path / "lake10"))
    clusters = ["arn:aws:eks:r:1:cluster/prod", "a%20b+c", ""]
    for cl in clusters:
        rec = parse_cri_lines(raw, path_col="path", cluster=cl)
        lake.write_batch(rec, fmt="parquet")
        lake.write_batch(rec, fmt="arrow")
    want = {("arn:aws:eks:r:1:cluster/prod", 4), ("a%20b+c", 4), (None, 4)}
    for fmt in ("parquet", "arrow"):
        got = {(r.cluster, r["count"]) for r in lake.read(spark, fmt=fmt).groupBy("cluster").count().collect()}
        assert got == want, fmt

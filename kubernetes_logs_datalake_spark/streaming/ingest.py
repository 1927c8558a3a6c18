"""Streaming ingest job: CRI log files → dual-format partitioned lake.

The reference's ingest is a Fluent Bit DaemonSet: inotify-tail of
``/var/log/pods/*/*/*.log``, per-(pod,container) buffers, and four flush
triggers — size (1 MB), timeout (60 s), close-write, SIGTERM (reference
``fluent-bit.conf:6-67``, ``close-write-flush.patch``). The semantics to
preserve (reference ``test.sh`` 7h–7l): bounded flush latency, prompt
visibility of terminated containers' logs, graceful-stop completeness,
and at-least-once delivery with checkpointed offsets.

Spark-first mapping (not a port):

- **Source**: the file stream source discovers *new* files each trigger
  (``pathGlobFilter``/``maxFilesPerTrigger``); checkpointed file offsets
  are the tail-DB analog (T6). Spark's unit is the file, not the
  appended line — the stream consumes closed/rotated CRI chunks, which
  makes the reference's close-write trigger (T4) hold by construction:
  a file is ingested, wholly, the trigger after it appears.
- **T3 timeout flush** → ``trigger(processingTime=…)`` upper-bounds
  latency the way ``upload_timeout`` does.
- **T2 size flush** → the batch writer cuts each partition's
  time-sorted rows into slices of at most ``max_records_per_file`` rows,
  one file per slice and format.
- **T5 graceful stop** → ``stop_gracefully()`` lets the in-flight batch
  commit; nothing buffered is lost. After an unclean stop the
  uncommitted epoch is replayed from the offset log (T6), and since its
  files are named from the epoch id the replay rewrites them instead of
  appending a second copy (the reference settles for at-least-once; its
  tests count *distinct* markers, ``test.sh:519-525``).
- **Per-key buffers (T1)** → one ``groupBy(cluster, namespace,
  date).applyInArrow`` pass per batch writes each partition's Parquet
  and Arrow IPC files from the same time-sorted table
  (``LogLake.write_formats``), with no persist: at most two Spark jobs.

At 100 TB/day the same topology holds: one stream per cluster (or a
shared S3 inventory stream), file-offset checkpoints in object storage,
one grouped write per batch, and a periodic compaction pass that rewrites
each partition's micro-batch files of both formats through the same
writer (``sources.compact.compact_lake``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.sources.cri import parse_cri_lines
from kubernetes_logs_datalake_spark.sources.logs import LogLake

DEFAULT_EXCLUDE = "fluent-bit"  # reference Exclude_Path: its own logs


@dataclass
class IngestJob:
    """Config + lifecycle for one ingest stream (≈ one DaemonSet)."""

    logs_dir: str
    lake_root: str
    cluster: str
    node: str = "local"
    formats: tuple[str, ...] = ("parquet", "arrow")
    trigger_seconds: int = 60  # reference upload_timeout
    max_files_per_trigger: int = 1000  # backpressure (T8)
    exclude_container: str | None = DEFAULT_EXCLUDE
    checkpoint: str | None = None
    _query: object = field(default=None, repr=False)

    # ------------------------------------------------------------ plan

    def source(self, spark: SparkSession) -> DataFrame:
        """Streaming source of (path, value) CRI lines."""
        reader = (
            spark.readStream.format("text")
            .option("pathGlobFilter", "*.log")
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        )
        raw = reader.load(self.logs_dir).withColumn("path", F.input_file_name())
        if self.exclude_container:
            # reference Exclude_Path /var/log/pods/*/fluent-bit/*.log
            raw = raw.filter(~F.col("path").contains(f"/{self.exclude_container}/"))
        return raw

    def records(self, spark: SparkSession) -> DataFrame:
        return parse_cri_lines(
            self.source(spark), path_col="path", cluster=self.cluster, node=self.node
        )

    # ------------------------------------------------------------- run

    def start(self, spark: SparkSession):
        self._query = (
            self.records(spark)
            .writeStream.foreachBatch(self._write_epoch)
            .option("checkpointLocation", self._checkpoint())
            .trigger(processingTime=f"{self.trigger_seconds} seconds")
            .start()
        )
        return self._query

    def _checkpoint(self) -> str:
        # lives OUTSIDE the lake root, so lake listings (reads,
        # compaction) never see offset files
        return self.checkpoint or (self.lake_root.rstrip("/") + "_checkpoint")

    def _write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One micro-batch, every format in one pass. Files are named
        ``part-<epoch>-<query id>-<slice>``: a replayed epoch overwrites
        its own files, and the query id Spark keeps in the checkpoint
        tells apart the streams (one per node) that share a lake, whose
        epoch ids all count from 0 and whose node-local checkpoints may
        all have the same path."""
        stream = _checkpoint_query_id(batch_df.sparkSession, self._checkpoint())
        LogLake(self.lake_root).write_formats(batch_df, self.formats, f"{epoch_id:05d}-{stream}")

    def process_available(self) -> None:
        """Drain everything currently discoverable (test/backfill aid)."""
        self._query.processAllAvailable()

    def stop_gracefully(self) -> None:
        """T5: finish the in-flight epoch, then stop.

        ``StreamingQuery.stop`` interrupts; ``processAllAvailable`` first
        ensures buffered input is committed — the 30 s-grace SIGTERM
        analog."""
        if self._query is not None:
            self._query.processAllAvailable()
            self._query.stop()
            self._query.awaitTermination(30)


def _checkpoint_query_id(spark: SparkSession, checkpoint: str) -> str:
    """The query id (hex) Spark writes to ``<checkpoint>/metadata`` as a
    JSON line when a query first starts there, and keeps across restarts."""
    sc = spark.sparkContext
    path = sc._jvm.org.apache.hadoop.fs.Path(checkpoint.rstrip("/") + "/metadata")
    stream = path.getFileSystem(sc._jsc.hadoopConfiguration()).open(path)
    reader = sc._jvm.java.io.BufferedReader(sc._jvm.java.io.InputStreamReader(stream, "UTF-8"))
    try:
        return json.loads(reader.readLine())["id"].replace("-", "")
    finally:
        reader.close()

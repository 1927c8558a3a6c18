"""The log lake: partitioned columnar storage of log records, readable
and writable in two layouts and two formats.

Layouts
-------
- **native** (default): hive-style ``cluster=…/namespace=…/date=…``
  partition directories. This is what the reference *wanted* ("Ideally
  we'd use Hive-style key=value partitioning", reference
  ``fluent-bit.conf:62-66``) and it makes partition pruning a pure
  Catalyst concern (``PruneFileSourcePartitions``): a selector equality
  filter on ``cluster``/``namespace`` or a date-bounded ``--since``
  never lists, let alone reads, non-matching directories. At 100 TB the
  date partition bounds per-query listing to the selected days.
- **positional** (reference-compatible): the reference's
  ``/<cluster>/<namespace>/YYYY/MM/DD/<node>/<pod>/<container>/HH/MM/<uuid>.ext``
  key layout, where identity columns exist only in the path. Reading it
  requires (a) selector→glob construction *before* ``load()`` — the same
  manual pruning the reference CLI does (``y-logcli:104-123``) — and
  (b) deriving the dimension columns from ``input_file_name()``
  (``y-logcli:138-143``; DuckDB's 1-based ``string_split`` indexes
  become 0-based here).

Formats: ``parquet`` (ZSTD) and ``arrow`` (Feather v2, ZSTD, int8
dictionaries, :mod:`kubernetes_logs_datalake_spark.sources.arrow_ipc`),
both written by one grouped pass (:meth:`LogLake.write_formats`) and read
by Spark's Parquet source and the IPC source.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.functions.time_ns import (
    ns_to_timestamp,
    since_cutoff,
    since_cutoff_predicate,
)
from kubernetes_logs_datalake_spark.schema import NATIVE_LAKE_SCHEMA, NATIVE_PARTITIONING
from kubernetes_logs_datalake_spark.sources.arrow_ipc import (
    _s3_options,
    glob_matches,
    hive_dir_value,
    read_arrow,
    write_arrow_file,
    write_via_hidden_name,
)

# Parquet dictionary pages only where values repeat; time and message
# are near-unique per row, where a dictionary only costs bytes.
PARQUET_DICT_COLUMNS = ["stream", "logtag", "node", "pod", "container"]

def _write_parquet_file(table: pa.Table, dest: str, s3: dict | None = None) -> None:
    """One ZSTD Parquet file (level 3, parquet-mr's default) with a
    delta-encoded time, through the same hidden-name-then-move sink as
    the Arrow files."""
    delta = {c: "DELTA_BINARY_PACKED" for c in ("time_ns", "time") if c in table.column_names}
    write_via_hidden_name(dest, lambda sink: pq.write_table(
        table, sink, compression="zstd", compression_level=3,
        use_dictionary=[c for c in PARQUET_DICT_COLUMNS if c in table.column_names],
        column_encoding=delta,
    ), s3)


def write_slices(
    table: pa.Table, prefix: str, formats: tuple[str, ...], max_rows: int, s3: dict | None = None
) -> None:
    """One partition's rows as lake files: sorted by ``time_ns`` and cut
    into slices of at most ``max_rows`` rows (T2), each written as
    ``<prefix>-<slice>.parquet`` (``time_ns`` + µs ``time``) and/or
    ``.arrow`` (no µs ``time``). Sorted slices cover disjoint time
    ranges, so ``--since`` skips whole files and row groups. The ingest
    writer and the compactor both write through here, so every lake file
    has one shape."""
    table = table.sort_by("time_ns")
    arrow_cols = [c for c in table.column_names if c != "time"]
    for i, start in enumerate(range(0, table.num_rows, max_rows)):
        part = table.slice(start, max_rows)
        dest = f"{prefix}-{i:05d}"
        if "parquet" in formats:
            _write_parquet_file(part, dest + ".parquet", s3)
        if "arrow" in formats:
            write_arrow_file(part.select(arrow_cols), dest + ".arrow", s3)


def _ensure_date(df: DataFrame) -> DataFrame:
    if "date" in df.columns:
        return df
    return df.withColumn("date", F.date_format("time", "yyyy-MM-dd"))


def _normalize_time(df: DataFrame) -> DataFrame:
    """Reference-written files store a single ``time`` column as parquet
    TIMESTAMP(NANOS), which Spark reads as a long (nanosAsLong). Our
    native files carry ``time_ns`` + ``time`` explicitly. Normalize both
    shapes to the canonical pair."""
    if "time_ns" in df.columns:
        if "time" not in df.columns:
            df = df.withColumn("time", ns_to_timestamp("time_ns"))
        return df
    time_field = next((f for f in df.schema.fields if f.name == "time"), None)
    if time_field is None:
        raise ValueError(
            f"lake data has neither 'time_ns' nor 'time' columns "
            f"(found: {df.columns}) — is the root pointed at a log lake?"
        )
    if time_field.dataType.simpleString() == "bigint":
        return (
            df.withColumnRenamed("time", "time_ns")
            .withColumn("time", ns_to_timestamp("time_ns"))
        )
    return df.withColumn(
        "time_ns",
        F.try_multiply(F.unix_micros(F.col("time").cast("timestamp")), F.lit(1000)),
    )


@dataclass
class LogLake:
    """A log lake rooted at ``root`` (local path or object-store URI —
    reads go through the Hadoop filesystem layer and writes through
    ``pyarrow.fs``, which maps ``s3a://`` onto its S3 filesystem with the
    session's S3A endpoint and keys, so the same root works unchanged on
    a cluster)."""

    root: str
    layout: str = "native"  # native | positional
    # T2 size-flush analog: bounds output file size so one hot
    # partition cannot produce an unsplittable multi-GB file. The
    # reference bounds bytes (total_file_size 1M); record count is the
    # splittable-parquet equivalent.
    max_records_per_file: int = 5_000_000

    # ---------------------------------------------------------------- write

    def write_batch(self, df: DataFrame, fmt: str = "parquet", mode: str = "append") -> None:
        """Append a batch of canonical log records in one format, under
        a fresh uuid (:meth:`write_formats`). Only ``append`` exists: any
        other mode raises before anything is written, since a whole-root
        overwrite would delete the other format and every other partition.
        """
        if mode != "append":
            raise ValueError(f"write_batch supports mode='append' only, got {mode!r}")
        self.write_formats(df, (fmt,), uuid.uuid4().hex)

    def write_formats(self, df: DataFrame, formats: tuple[str, ...], batch_id: str) -> None:
        """Write every format in ``formats`` from one grouped Arrow pass,
        as the reference writes both files from one buffer
        (``compact_columns.c:332-418``). ``groupBy(cluster, namespace,
        date).applyInArrow`` hands each partition to one task, which
        writes it through :func:`write_slices` as
        ``part-<batch_id>-<slice>`` files of at most
        ``max_records_per_file`` rows. At most two Spark jobs, nothing
        persisted. Each file is written
        under a hidden name and moved into place, so readers never list a
        half-written file, and the same rows written again under the same
        ``batch_id`` replace their files.
        Native layout only: the positional layout is read-only.
        """
        if self.layout != "native":
            raise ValueError("the lake writer supports the native hive layout only")
        unknown = [f for f in formats if f not in ("parquet", "arrow")]
        if unknown:
            raise ValueError(f"unknown format {unknown[0]!r}")
        root, parts, max_rows = self.root.rstrip("/"), NATIVE_PARTITIONING, self.max_records_per_file
        s3 = _s3_options(df.sparkSession, root)

        def write_group(key: tuple, table: pa.Table) -> pa.Table:
            rel = "/".join(f"{c}={hive_dir_value(v.as_py())}" for c, v in zip(parts, key))
            write_slices(table.drop_columns(parts), f"{root}/{rel}/part-{batch_id}", formats, max_rows, s3)
            return pa.table({"rows": [table.num_rows]})

        _ensure_date(df).groupBy(*parts).applyInArrow(write_group, "rows long").collect()

    # ----------------------------------------------------------------- read

    def read(
        self,
        spark: SparkSession,
        fmt: str = "parquet",
        selectors: dict[str, str] | None = None,
        cluster: str | None = None,
        since: str | None = None,
    ) -> DataFrame:
        """Scan the lake, pushing identity selectors into partition
        pruning (native) or glob construction (positional), and keep the
        records of the last ``since`` (``10m``, ``1h``, ...). A format
        with no file in the listing raises :class:`FileNotFoundError`."""
        if self.layout == "native":
            df = self._read_native(spark, fmt, selectors or {}, cluster, since)
        else:
            df = self._read_positional(spark, fmt, selectors or {}, cluster)
        if since:
            df = df.filter(since_cutoff_predicate("time", since))
        return df

    def _read_native(
        self, spark: SparkSession, fmt: str, selectors: dict[str, str], cluster: str | None, since: str | None
    ) -> DataFrame:
        # Partition predicates prune directories before any file is read:
        # cluster/namespace equality, and the date bound `since` implies
        # (a date directory holds the UTC date of `time`, so it is exact).
        equal = [("cluster", cluster)] if cluster else []
        equal += selectors.items()
        pruning = [F.col(k) == v for k, v in equal if k in NATIVE_PARTITIONING]
        if since:
            pruning.append(F.col("date") >= F.date_format(since_cutoff(since), "yyyy-MM-dd"))
        where = reduce(lambda a, b: a & b, pruning) if pruning else None
        if fmt == "parquet":
            # pathGlobFilter: the lake may hold both formats side by side
            # (the reference writes every batch twice, fluent-bit.conf:32-67).
            # The fixed schema spares a footer-inference job and keeps the
            # partition columns strings, as in the Arrow side.
            df = (
                spark.read.schema(NATIVE_LAKE_SCHEMA)
                .option("basePath", self.root)
                .option("pathGlobFilter", "*.parquet")
                .parquet(self.root)
            )
            if not df.inputFiles():
                raise FileNotFoundError(f"no .parquet files under {self.root}")
            if where is not None:
                df = df.filter(where)
        elif fmt == "arrow":
            df = read_arrow(
                spark, self.root, with_filename=False, partitions=tuple(NATIVE_PARTITIONING), where=where
            )
        else:
            raise ValueError(f"unknown format {fmt!r}")
        df = _normalize_time(df)
        # the rest (pod/container/node) prune via parquet row-group
        # dictionary/stats; on the Arrow side they filter decoded rows
        for k, v in equal:
            if k not in NATIVE_PARTITIONING:
                df = df.filter(F.col(k) == v)
        return df

    def read_stream(self, spark: SparkSession) -> DataFrame:
        """The lake as a continuous source: downstream jobs (live
        rollups, alerting) tail the lake itself instead of re-ingesting
        raw logs. File-source discovery + checkpoints give the same
        at-least-once contract as ingest; hive partition columns are
        recovered from the directory layout."""
        if self.layout != "native":
            raise ValueError("read_stream supports the native layout only")
        return (
            spark.readStream.schema(NATIVE_LAKE_SCHEMA)
            .option("basePath", self.root)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1000")
            .parquet(self.root)
        )

    # -- positional (reference) layout ---------------------------------

    def positional_glob(
        self, selectors: dict[str, str], cluster: str | None, ext: str
    ) -> str:
        """Selector → glob path, mirroring the reference CLI's manual
        partition pruning (``y-logcli:104-123``): namespace substitutes
        at depth 2; a pod or container selector switches to a fixed-depth
        glob so those path positions can be pinned."""
        ns = selectors.get("namespace", "*")
        pod = selectors.get("pod", "*")
        container = selectors.get("container", "*")
        cl = cluster or "*"
        root = self.root.rstrip("/")
        if pod != "*" or container != "*":
            return f"{root}/{cl}/{ns}/*/*/*/*/{pod}/{container}/*/*/*.{ext}"
        return f"{root}/{cl}/{ns}/*/*/*/*/*/*/*/*/*.{ext}"

    def _positional_dim_cols(self, file_col: F.Column | None = None) -> dict[str, F.Column]:
        """Dimension columns derived from the file path — the Spark
        equivalent of ``string_split(filename,'/')[5/9/10/11]``
        (``y-logcli:138-143``). Anchored at the lake root so the result
        is independent of filesystem prefix and URI scheme."""
        # .../<root>/<cluster>/<ns>/YYYY/MM/DD/<node>/<pod>/<container>/HH/MM/<file>
        root_name = os.path.basename(self.root.rstrip("/"))
        pat = (
            "/" + root_name + "/"
            r"([^/]+)/([^/]+)/(\d{4})/(\d{2})/(\d{2})/([^/]+)/([^/]+)/([^/]+)/"
        )
        f = file_col if file_col is not None else F.input_file_name()
        return {
            "cluster": F.regexp_extract(f, pat, 1),
            "namespace": F.regexp_extract(f, pat, 2),
            "node": F.regexp_extract(f, pat, 6),
            "pod": F.regexp_extract(f, pat, 7),
            "container": F.regexp_extract(f, pat, 8),
        }

    def _read_positional(
        self, spark: SparkSession, fmt: str, selectors: dict[str, str], cluster: str | None
    ) -> DataFrame:
        ext = "arrow" if fmt == "arrow" else "parquet"
        glob = self.positional_glob(selectors, cluster, ext)
        if fmt == "parquet":
            if not glob_matches(spark, glob):
                raise FileNotFoundError(f"no .parquet files match {glob}")
            df = spark.read.parquet(glob)
        elif fmt == "arrow":
            df = read_arrow(spark, glob)
        else:
            raise ValueError(f"unknown format {fmt!r}")
        df = _normalize_time(df)
        file_col = F.col("_file") if "_file" in df.columns else None
        for name, col in self._positional_dim_cols(file_col).items():
            if name not in df.columns:
                df = df.withColumn(name, col)
        # Globs already pruned; re-apply as filters for exactness (a `*`
        # glob component matches more than an equality selector would).
        if cluster:
            df = df.filter(F.col("cluster") == cluster)
        for k, v in selectors.items():
            df = df.filter(F.col(k) == v)
        return df

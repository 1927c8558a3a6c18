"""Tuned SparkSession builder.

Defaults are chosen for correctness against the DuckDB oracle (UTC
session timezone, ns-as-long parquet reads) and for scale (AQE with
skew-join handling, zstd parquet, pushdown/pruning on).

On a real cluster the same builder applies — only ``master`` and the
shuffle-partition count change (shuffle partitions should be ~2-3x the
total executor cores; AQE coalesces the excess at runtime).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import SparkSession

# Reference stores Timestamp(ns) in parquet (compact_columns.c:332-375 of
# the reference); Spark has no ns timestamp, so read INT64(TIMESTAMP_NANOS)
# as LongType and keep nanos as the source of truth.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def shuffle_partitions(spark) -> int:
    """The session's shuffle-partition count as an int, robust to
    platforms that set ``spark.sql.shuffle.partitions`` to a
    non-numeric value such as ``"auto"`` (managed-AQE environments).
    Falls back to ``sparkContext.defaultParallelism`` — the same
    cores-derived width AQE itself starts from — so explicit-N
    repartitions (the pair-stage AQE-coalescing guard) keep working
    everywhere.
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return int(spark.sparkContext.defaultParallelism)


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
    ssl: bool | None = None,
) -> dict[str, str]:
    """S3A connection conf for an S3-compatible object store — the Spark
    mirror of the reference CLI's DuckDB httpfs pragmas (endpoint, key
    id, secret, url_style=path, use_ssl; ``y-logcli:145-152``).

    Arguments default from the same environment variables the reference
    uses (``S3_ENDPOINT``, ``AWS_ACCESS_KEY_ID``,
    ``AWS_SECRET_ACCESS_KEY``). Pass the returned dict to
    :func:`get_spark`'s ``extra_conf`` — hadoop confs must be set before
    the JVM filesystem is first touched. ``path_style=True`` is the
    right default for MinIO/versitygw-style endpoints (the reference
    targets versitygw on a NodePort, ``y-logcli:13``).
    """
    endpoint = endpoint or os.environ.get("S3_ENDPOINT")
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    conf: dict[str, str] = {
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
    }
    # SSL: only override Hadoop's secure default (true) when the caller
    # says so explicitly or the endpoint scheme makes it unambiguous —
    # never silently downgrade plain AWS S3 to HTTP.
    if ssl is None and endpoint:
        if endpoint.startswith("http://"):
            ssl = False
        elif endpoint.startswith("https://"):
            ssl = True
    if ssl is not None:
        conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] = str(ssl).lower()
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf


def pyarrow_s3_options(get: Callable[[str], str | None]) -> dict:
    """The S3A settings :func:`s3a_conf` sets, looked up by their Hadoop
    ``fs.s3a.*`` keys (``hadoopConfiguration().get``), as
    ``pyarrow.fs.S3FileSystem`` arguments, so the lake writer's pyarrow
    sink reaches the same store as Spark's Hadoop reads. An endpoint's
    own ``http://``/``https://`` scheme wins over the SSL flag, as in S3A;
    pyarrow addresses an overridden endpoint path-style, so Hadoop's
    virtual-host default must be asked for explicitly."""
    opts: dict = {}
    if get("fs.s3a.connection.ssl.enabled") == "false":
        opts["scheme"] = "http"
    endpoint = get("fs.s3a.endpoint")
    if endpoint:
        scheme, sep, host = endpoint.partition("://")
        if sep:
            opts["scheme"], endpoint = scheme, host
        opts["endpoint_override"] = endpoint.rstrip("/")
        if get("fs.s3a.path.style.access") != "true":
            opts["force_virtual_addressing"] = True
    access_key, secret_key = get("fs.s3a.access.key"), get("fs.s3a.secret.key")
    if access_key and secret_key:
        opts["access_key"], opts["secret_key"] = access_key, secret_key
    return opts


def get_spark(
    app_name: str = "kubernetes-logs-datalake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    Every knob here matters at 100 TB:

    - AQE (+ skew-join splitting + partition coalescing) re-plans joins
      and shuffles at runtime using real statistics.
    - ``autoBroadcastJoinThreshold`` lets Catalyst broadcast dimension
      tables (region/nation/supplier-sized) instead of shuffling facts.
    - zstd parquet + dictionary encoding mirrors the reference's storage
      choices (ZSTD Arrow IPC bodies, dict-encoded columns).
    - UTC session timezone makes timestamp semantics match the oracle
      and the reference's UTC-by-convention timestamps.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config(NANOS_AS_LONG, "true")
        # Adaptive execution: runtime re-planning, skew handling, coalesce.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Scan efficiency: pushdown + pruning are defaults, pinned here
        # so a misconfigured cluster can't silently disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Storage: match the reference's compression/encoding choices.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Dynamic-partition writes must preserve the caller's in-task
        # (partition-cols, time) ordering so rolled files get disjoint
        # time ranges (zone-map clustering). Planned write inserts its
        # own empty2null partition-col sort that scrambles secondary
        # order; the concurrent-writers path streams rows as they come.
        .config("spark.sql.optimizer.plannedWrite.enabled", "false")
        .config("spark.sql.maxConcurrentOutputFileWriters", "64")
        # Arrow for any pandas-UDF path (the slow path, but when used it
        # must be batched, never per-row).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Canonical schemas and layout constants.

The logical record is the reference's 5-field CRI log record
(reference ``images/fluentbit/test_compact_columns.c:17-20``,
``y-logcli:183-184``) plus the identity dimensions the reference encodes
in the S3 key path (``fluent-bit.conf:45,67``, ``y-logcli:5``).

Nanosecond handling: Spark timestamps are microsecond; the reference
stores ``Timestamp(ns)``. We carry ``time_ns`` (LongType, ns since epoch,
UTC) as the source of truth for ordering/formatting and derive ``time``
(TimestampNTZ, µs) for predicates, pushdown and human-facing output.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Row-level fields, as parsed from a CRI log line.
LOG_FIELDS = [
    T.StructField("time_ns", T.LongType(), True),
    T.StructField("time", T.TimestampNTZType(), True),
    T.StructField("stream", T.StringType(), True),   # stdout | stderr
    T.StructField("logtag", T.StringType(), True),   # F (full) | P (partial)
    T.StructField("message", T.StringType(), True),
    T.StructField("cluster", T.StringType(), True),
]

# Identity dimensions; the reference keeps these in the path only
# ("Consumers must reconstruct namespace/pod/container columns from the
# file path at query time", fluent-bit.conf:62-66). We control our own
# writer, so our native layout makes them hive partition columns — which
# is what the reference wanted before a SigV4 encoding bug blocked it.
DIM_FIELDS = [
    T.StructField("namespace", T.StringType(), True),
    T.StructField("node", T.StringType(), True),
    T.StructField("pod", T.StringType(), True),
    T.StructField("container", T.StringType(), True),
]

LOG_SCHEMA = T.StructType(LOG_FIELDS + DIM_FIELDS)

# Partition columns of the native hive-style lake layout, coarse→fine.
# `date` (daily) bounds the partition count: at 100 TB/yr with ~100
# namespaces this is ~36.5k leaf dirs per cluster — listable — while
# pod/container stay row-level columns (they are high-cardinality and
# short-lived; making them partitions would create millions of tiny
# directories at scale). Identity pruning below namespace happens via
# parquet row-group stats + dictionary filters instead.
NATIVE_PARTITIONING = ["cluster", "namespace", "date"]

# The native lake as Spark reads it: the stored columns, then the
# partition columns as strings (Spark would type an all-digit namespace
# as a number, and `date` as a date).
NATIVE_LAKE_SCHEMA = T.StructType(
    [f for f in LOG_SCHEMA.fields if f.name not in NATIVE_PARTITIONING]
    + [T.StructField(c, T.StringType(), True) for c in NATIVE_PARTITIONING]
)

# The reference's positional S3 key layout:
# /<cluster>/<namespace>/YYYY/MM/DD/<node>/<pod>/<container>/HH/MM/<uuid>.<ext>
# 0-indexed positions *after* the lake-root prefix is stripped:
POSITIONAL_LAYOUT = {
    "cluster": 0,
    "namespace": 1,
    # 2,3,4 = YYYY, MM, DD  (upload wall-clock, not event time)
    "node": 5,
    "pod": 6,
    "container": 7,
    # 8,9 = HH, MM ; 10 = <uuid>.<ext>
}
POSITIONAL_DEPTH = 11  # path components below the lake root

# CRI line: "<iso-ns-timestamp> <stdout|stderr> <F|P> <message>"
CRI_LINE_REGEX = r"^(\S+) (stdout|stderr) ([FP]) (.*)$"

STREAM_VALUES = ("stdout", "stderr")
LOGTAG_VALUES = ("F", "P")

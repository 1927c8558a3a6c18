"""Lake maintenance: retention expiry and key-based upsert for the
LogLake, implemented object-store-safe: expiry deletes directories
through the Hadoop FileSystem API, and upsert rewrites partitions through
the lake's one writer under the compactor's claim protocol
(``sources.compact``).

Scale notes: both operators read and write ONLY the affected partition
directories — expiry never lists file contents, upsert reads and
rewrites just the partitions present in the update set (its listing,
which also finds crashed rewrites to replay, covers the lake). At 100 TB
the data cost is proportional to the data actually changing, never the
lake.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.schema import NATIVE_LAKE_SCHEMA, NATIVE_PARTITIONING
from kubernetes_logs_datalake_spark.sources.arrow_ipc import hive_dir_value, read_arrow
from kubernetes_logs_datalake_spark.sources.compact import Claim, LakeFiles, claim, claim_key, finish, snapshot
from kubernetes_logs_datalake_spark.sources.logs import LogLake, _ensure_date, _normalize_time

_DATA_FILE = re.compile(r"[^._].*\.(parquet|arrow)")


def _fs(spark: SparkSession, root: str):
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path
    p = hpath(root)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, hpath, fs.makeQualified(p)


def list_date_partitions(spark: SparkSession, lake_root: str) -> list[str]:
    """All ``date=<d>`` partition directory paths under the lake's
    hive layout (cluster=/namespace=/date=), via FS listing only."""
    fs, hpath, qroot = _fs(spark, lake_root)
    if not fs.exists(qroot):
        return []
    out = []

    def walk(p):
        for st in fs.listStatus(p):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if name.startswith("date="):
                out.append(st.getPath().toString())
            elif name.startswith(("cluster=", "namespace=")):
                walk(st.getPath())

    walk(qroot)
    return sorted(out)


def expire_partitions(
    spark: SparkSession,
    lake_root: str,
    before_date: str,
    dry_run: bool = False,
) -> list[str]:
    """Retention enforcement: drop every ``date=<d>`` partition with
    ``d < before_date`` (ISO dates — lexicographic == chronological).
    Returns the partition paths that were (or, with ``dry_run``, would
    be) deleted. Directory-granular: no file reads, no data movement,
    safe under concurrent writers appending CURRENT dates.
    """
    fs, hpath, _ = _fs(spark, lake_root)
    victims = [
        p
        for p in list_date_partitions(spark, lake_root)
        if p.rsplit("date=", 1)[1] < before_date
    ]
    if not dry_run:
        for p in victims:
            fs.delete(hpath(p), True)
    return victims


def merge_upsert(
    spark: SparkSession,
    lake_root: str,
    updates: DataFrame,
    key_cols: list[str],
) -> int:
    """Key-based upsert into the lake (MERGE-INTO semantics without a
    transaction log): within every partition present in ``updates``,
    rows whose key matches an update are REPLACED and new keys are
    APPENDED, in every format the lake holds; untouched partitions are
    never read or written. Returns the number of partitions rewritten.

    Each affected partition is rewritten whole, per format: exactly its
    listed files are read (Parquet with ``NATIVE_LAKE_SCHEMA``, Arrow
    through ``read_arrow``), anti-joined against the update keys,
    unioned with the updates and written back by
    ``LogLake.write_formats`` as ``part-compact-<key>-<slice>``, under
    the compactor's claim protocol. A crash anywhere is finished or
    undone by the next compaction or upsert; a file appended after the
    listing is neither read nor deleted; readers can see a replaced row
    next to its update until the old files are deleted.
    """
    # same canonicalization as LogLake.write_batch: derive date from
    # time when absent, normalize the (time_ns, time) pair
    if "time_ns" in updates.columns or "time" in updates.columns:
        updates = _ensure_date(_normalize_time(updates))
    missing = [c for c in NATIVE_PARTITIONING if c not in updates.columns]
    if missing:
        raise ValueError(
            f"updates must carry the partition columns; missing {missing}"
        )
    affected = [
        tuple(r)
        for r in updates.select(*NATIVE_PARTITIONING).distinct().collect()
    ]
    if not affected:
        return 0
    lake = LakeFiles(spark, lake_root)
    data = {
        rel: sorted(n for n in files if _DATA_FILE.fullmatch(n))
        for rel, files in snapshot(lake).items()
    }
    formats = sorted({n.rsplit(".", 1)[1] for names in data.values() for n in names}) or ["parquet"]
    dirs = {
        "/".join(f"{c}={hive_dir_value(v)}" for c, v in zip(NATIVE_PARTITIONING, vals)): vals
        for vals in affected
    }
    sources = {rel: data.get(rel, []) for rel in dirs}
    key = claim_key([*dirs, *(f"{rel}/{n}" for rel, names in sources.items() for n in names)])
    claims = [Claim(rel, key, tuple(names)) for rel, names in sources.items() if names]
    for c in claims:
        claim(lake, c)
    upd = updates.select(*NATIVE_LAKE_SCHEMA.names)
    for fmt in formats:
        listed = [
            (rel, dirs[rel], [n for n in names if n.endswith(f".{fmt}")]) for rel, names in sources.items()
        ]
        listed = [part for part in listed if part[2]]
        merged = upd
        if listed:
            old = _read_files(spark, lake.uri, fmt, listed)
            kept = old.join(upd.select(*key_cols).distinct(), key_cols, "left_anti")
            merged = kept.select(*upd.columns).unionByName(upd)
        LogLake(lake_root).write_formats(merged, (fmt,), f"compact-{key}")
    for c in claims:
        finish(lake, c)
    return len(affected)


def _read_files(spark: SparkSession, root: str, fmt: str, listed: list[tuple[str, tuple, list[str]]]) -> DataFrame:
    """Exactly the ``listed`` files of one format, given as (directory,
    partition values, file names), with the lake's columns."""
    if fmt == "parquet":
        paths = [f"{root}/{rel}/{n}" for rel, _, names in listed for n in names]
        df = spark.read.schema(NATIVE_LAKE_SCHEMA).option("basePath", root).parquet(*paths)
    else:
        # the partition predicate prunes directories before any file is
        # read; the name predicate then keeps the listed files only
        in_dir = [
            reduce(lambda a, b: a & b, [F.col(c) == v for c, v in zip(NATIVE_PARTITIONING, vals)])
            for _, vals, _ in listed
        ]
        name = F.element_at(F.split("path", "/"), -1)
        where = reduce(lambda a, b: a | b, in_dir) & reduce(
            lambda a, b: a | b, [d & name.isin(names) for d, (_, _, names) in zip(in_dir, listed)]
        )
        df = _normalize_time(
            read_arrow(spark, root, with_filename=False, partitions=tuple(NATIVE_PARTITIONING), where=where)
        )
    return df.select(*NATIVE_LAKE_SCHEMA.names)

"""Lake maintenance: retention expiry (directory-granular) and
key-based upsert (partition-scoped MERGE semantics) on the parquet
LogLake."""

from __future__ import annotations

import glob as globmod

from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.sources import parse_cri_lines
from kubernetes_logs_datalake_spark.sources.logs import LogLake
from kubernetes_logs_datalake_spark.sources.maintenance import (
    expire_partitions,
    list_date_partitions,
    merge_upsert,
)


def _records(spark, day: int, ns: str, n: int, tag: str):
    rows = [
        (
            f"/var/log/pods/{ns}_pod-1_uid1/app/0.log",
            f"2024-01-{day:02d}T10:30:{i % 60:02d}.{i:09d}Z stdout F {tag}-{i}",
        )
        for i in range(n)
    ]
    return parse_cri_lines(
        spark.createDataFrame(rows, ["path", "value"]),
        path_col="path",
        cluster="dev",
    )


def test_expire_partitions_drops_old_dates_only(spark, tmp_path):
    root = str(tmp_path / "lake")
    lake = LogLake(root)
    for day in (10, 11, 12):
        lake.write_batch(_records(spark, day, "qa", 5, f"d{day}"))
    assert len(list_date_partitions(spark, root)) == 3

    # dry run: lists victims, deletes nothing
    would = expire_partitions(spark, root, "2024-01-12", dry_run=True)
    assert sorted(p.rsplit("date=", 1)[1] for p in would) == [
        "2024-01-10", "2024-01-11",
    ]
    assert len(list_date_partitions(spark, root)) == 3

    gone = expire_partitions(spark, root, "2024-01-12")
    assert len(gone) == 2
    left = list_date_partitions(spark, root)
    assert [p.rsplit("date=", 1)[1] for p in left] == ["2024-01-12"]
    # surviving data intact
    assert lake.read(spark).count() == 5


def test_merge_upsert_replaces_and_appends(spark, tmp_path):
    root = str(tmp_path / "lake2")
    lake = LogLake(root)
    lake.write_batch(_records(spark, 15, "qa", 6, "orig"))

    # updates: replace lines 1 and 3 (same key = time_ns within the
    # partition), add one new later line
    upd_rows = [
        (
            "/var/log/pods/qa_pod-1_uid1/app/0.log",
            f"2024-01-15T10:30:{i:02d}.{i:09d}Z stdout F patched-{i}",
        )
        for i in (1, 3)
    ] + [
        (
            "/var/log/pods/qa_pod-1_uid1/app/0.log",
            "2024-01-15T10:30:59.000000000Z stdout F appended",
        )
    ]
    updates = parse_cri_lines(
        spark.createDataFrame(upd_rows, ["path", "value"]),
        path_col="path",
        cluster="dev",
    )

    n = merge_upsert(spark, root, updates, key_cols=["namespace", "pod", "time_ns"])
    assert n == 1  # one partition touched
    got = lake.read(spark)
    assert got.count() == 7  # 6 originals - 2 replaced + 2 patched + 1 new
    lines = {r.message for r in got.collect()}
    assert "patched-1" in lines and "patched-3" in lines
    assert "orig-1" not in lines and "orig-3" not in lines
    assert "orig-0" in lines and "appended" in lines


def test_merge_upsert_leaves_other_partitions_untouched(spark, tmp_path):
    root = str(tmp_path / "lake3")
    lake = LogLake(root)
    lake.write_batch(_records(spark, 20, "qa", 4, "a"))
    lake.write_batch(_records(spark, 21, "qa", 4, "b"))
    files_before = sorted(
        globmod.glob(f"{root}/**/date=2024-01-21/**/*.parquet", recursive=True)
    )

    updates = parse_cri_lines(
        spark.createDataFrame(
            [(
                "/var/log/pods/qa_pod-1_uid1/app/0.log",
                "2024-01-20T10:30:00.000000000Z stdout F a-patched",
            )],
            ["path", "value"],
        ),
        path_col="path",
        cluster="dev",
    )
    merge_upsert(spark, root, updates, key_cols=["namespace", "pod", "time_ns"])

    files_after = sorted(
        globmod.glob(f"{root}/**/date=2024-01-21/**/*.parquet", recursive=True)
    )
    assert files_before == files_after  # untouched partition: same files
    day20 = lake.read(spark).filter(F.col("date") == "2024-01-20")
    assert {r.message for r in day20.collect()} == {
        "a-patched", "a-1", "a-2", "a-3",
    }


def test_merge_upsert_requires_partition_columns(spark, tmp_path):
    import pytest

    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="partition columns"):
        merge_upsert(spark, str(tmp_path / "nolake"), df, ["x"])


def _upsert_lake(spark, root, cluster, formats):
    """Six records in one partition; updates replace record 3 and add one."""
    lake = LogLake(root)
    lake.write_formats(
        _records(spark, 15, "qa", 6, "orig").withColumn("cluster", F.lit(cluster)), formats, "0" * 32
    )
    updates = parse_cri_lines(
        spark.createDataFrame(
            [
                ("/var/log/pods/qa_pod-1_uid1/app/0.log", "2024-01-15T10:30:03.000000003Z stdout F patched-3"),
                ("/var/log/pods/qa_pod-1_uid1/app/0.log", "2024-01-15T10:30:59.000000000Z stdout F appended"),
            ],
            ["path", "value"],
        ),
        path_col="path",
        cluster=cluster,
    )
    return lake, updates


EXPECTED = sorted({"orig-0", "orig-1", "orig-2", "patched-3", "orig-4", "orig-5", "appended"})


def test_merge_upsert_escaped_cluster_replaces_originals(spark, tmp_path):
    """Cluster ``a:b`` lives in ``cluster=a%3Ab``: its originals are found
    and replaced, so 6 records plus 1 new one remain."""
    root = str(tmp_path / "lake_escaped")
    lake, updates = _upsert_lake(spark, root, "a:b", ("parquet",))
    assert merge_upsert(spark, root, updates, key_cols=["namespace", "pod", "time_ns"]) == 1
    got = lake.read(spark, cluster="a:b")
    assert sorted(r.message for r in got.collect()) == EXPECTED


def test_merge_upsert_updates_every_format(spark, tmp_path):
    """On a dual-format lake both formats carry the upsert: -f parquet
    and -f arrow return the same records, -f both each of them twice."""
    from collections import Counter

    from kubernetes_logs_datalake_spark.plans import LogQuery

    root = str(tmp_path / "lake_dual")
    lake, updates = _upsert_lake(spark, root, "dev", ("parquet", "arrow"))
    merge_upsert(spark, root, updates, key_cols=["namespace", "pod", "time_ns"])
    for fmt in ("parquet", "arrow"):
        assert sorted(r.message for r in lake.read(spark, fmt).collect()) == EXPECTED, fmt
    both = Counter(r.message for r in LogQuery(lake, fmt="both").df(spark).collect())
    assert sorted(both) == EXPECTED and set(both.values()) == {2}

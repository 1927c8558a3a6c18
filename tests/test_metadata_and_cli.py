"""Metadata introspection (S3-S6) + CLI front end."""

from __future__ import annotations

import glob as globmod

import pytest
from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.sources import LogLake, parse_cri_lines
from kubernetes_logs_datalake_spark.sources.metadata import (
    describe,
    glob_files,
    parquet_metadata,
    parquet_schema,
)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("metalake"))
    raw = spark.createDataFrame(
        [
            ("/var/log/pods/qa_app-1_u/app/0.log", f"2024-01-15T10:30:{i:02d}.5Z stdout F m{i}")
            for i in range(30)
        ],
        ["path", "value"],
    )
    lk = LogLake(root)
    lk.write_batch(parse_cri_lines(raw, path_col="path", cluster="dev"), fmt="parquet")
    return lk


def test_glob_files(spark, lake):
    files = glob_files(spark, lake.root)
    assert files.count() >= 1
    assert set(files.columns) == {"path", "length", "modificationTime"}


def test_parquet_schema_shows_physical_types(spark, lake):
    f = globmod.glob(f"{lake.root}/**/*.parquet", recursive=True)[0]
    sch = parquet_schema(spark, f)
    rows = {r.name: r for r in sch.collect()}
    assert rows["time_ns"].type == "INT64"
    assert "timestamp" in rows["time"].logical_type.lower()


def test_parquet_metadata_rowgroups(spark, lake):
    f = globmod.glob(f"{lake.root}/**/*.parquet", recursive=True)[0]
    meta = parquet_metadata(spark, f)
    assert meta.count() > 0
    r = meta.filter(F.col("path_in_schema") == "stream").first()
    assert r.compression == "ZSTD"
    assert "PLAIN_DICTIONARY" in r.encodings or "RLE_DICTIONARY" in r.encodings


def test_describe(spark, lake):
    d = dict(describe(lake.read(spark)))
    assert d["time_ns"] == "bigint"
    assert d["time"] == "timestamp_ntz"


def test_cli_end_to_end(spark, lake, capsys):
    from kubernetes_logs_datalake_spark import cli

    rc = cli.main(
        [
            "--context=dev",
            f"--root={lake.root}",
            "query",
            '{namespace="qa"}',
            "-o",
            "raw",
            "-f",
            "parquet",
        ]
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    assert out[0] == "m0" and len(out) == 30


def test_cli_bad_selector(capsys):
    from kubernetes_logs_datalake_spark import cli

    rc = cli.main(["--context=dev", "--root=/nope", "query", "{bogus=1}"])
    assert rc == 2
    assert "unknown selector key" in capsys.readouterr().err


def test_cli_explain_echoes_plan(spark, lake, capsys):
    from kubernetes_logs_datalake_spark import cli

    rc = cli.main(
        ["--context=dev", f"--root={lake.root}", "query", '{namespace="qa"}',
         "-o", "raw", "-f", "parquet", "--explain"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "-- plan executed:" in out and "Physical Plan" in out


def test_schema_diff(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kubernetes_logs_datalake_spark.sources.metadata import schema_diff

    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()),
                  "old": pa.array(["x"]),
                  "v": pa.array([1.0], pa.float64())}), a)
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()),
                  "new": pa.array([2], pa.int32()),
                  "v": pa.array([1], pa.int64())}), b)
    out = {r.name: (r.status, r.type_a, r.type_b)
           for r in schema_diff(spark, a, b).collect()}
    assert out == {
        "id": ("unchanged", "int64", "int64"),
        "old": ("removed", "string", None),
        "new": ("added", None, "int32"),
        "v": ("type_changed", "double", "int64"),
    }

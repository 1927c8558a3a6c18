"""Object-store execution path contracts.

The sandbox has no S3, but the conf plumbing and scheme-qualified-URI
handling must exist and work: the reference's whole query surface runs
over S3 (httpfs endpoint/creds pragmas, ``y-logcli:13,145-152``). A
``file://``-qualified root exercises the same Hadoop FileSystem code
path as ``s3a://`` and catches string-manipulation bugs (os.path joins,
``startswith('/')`` checks) that bare local paths can't.
"""

from __future__ import annotations

import glob as globmod

from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.session import pyarrow_s3_options, s3a_conf
from kubernetes_logs_datalake_spark.sources import parse_cri_lines
from kubernetes_logs_datalake_spark.sources.compact import compact_lake
from kubernetes_logs_datalake_spark.sources.logs import LogLake


def _cri_batch(spark, n=30, start=0):
    return parse_cri_lines(
        spark.createDataFrame(
            [
                (
                    "/var/log/pods/qa_app-1_uid1/app/0.log",
                    f"2024-01-15T10:30:{i % 60:02d}.{i:09d}Z stdout F qline {i}",
                )
                for i in range(start, start + n)
            ],
            ["path", "value"],
        ),
        path_col="path",
        cluster="dev",
    )


def test_s3a_conf_mirrors_reference_pragmas():
    conf = s3a_conf(
        endpoint="http://localhost:30070",
        access_key="ak",
        secret_key="sk",
        path_style=True,
    )
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://localhost:30070"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "sk"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "false"


def test_s3a_conf_from_env(monkeypatch):
    monkeypatch.setenv("S3_ENDPOINT", "https://s3.example")
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "envak")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "envsk")
    conf = s3a_conf()
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "https://s3.example"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "envak"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "true"


def test_pyarrow_s3_options_follow_s3a_conf():
    """The lake writer's pyarrow S3 sink gets the endpoint, scheme,
    addressing style and keys the S3A conf gives Spark's reads."""
    conf = s3a_conf(endpoint="http://localhost:30070/", access_key="ak", secret_key="sk")
    hadoop = {k.removeprefix("spark.hadoop."): v for k, v in conf.items()}
    assert pyarrow_s3_options(hadoop.get) == {
        "scheme": "http", "endpoint_override": "localhost:30070",
        "access_key": "ak", "secret_key": "sk",
    }
    # no scheme in the endpoint: the SSL flag decides; S3A's default
    # virtual-host addressing must be asked of pyarrow explicitly
    assert pyarrow_s3_options(
        {"fs.s3a.endpoint": "minio:9000", "fs.s3a.connection.ssl.enabled": "false"}.get
    ) == {"scheme": "http", "endpoint_override": "minio:9000", "force_virtual_addressing": True}
    assert pyarrow_s3_options({"fs.s3a.access.key": "ak"}.get) == {}


def test_lake_writer_reads_s3a_settings_from_the_session(spark):
    """The driver hands the session's Hadoop S3A settings to the
    executor-side writer for an object-store root, and none for a local one."""
    from kubernetes_logs_datalake_spark.sources.logs import _s3_options

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    keys = {"fs.s3a.endpoint": "https://minio.local:9000", "fs.s3a.path.style.access": "true"}
    saved = {k: hconf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            hconf.set(k, v)
        assert _s3_options(spark, "s3a://bucket/lake") == {
            "scheme": "https", "endpoint_override": "minio.local:9000",
        }
        assert _s3_options(spark, "file:///tmp/lake") is None
    finally:
        for k, v in saved.items():
            hconf.unset(k) if v is None else hconf.set(k, v)


def test_lake_write_read_compact_on_qualified_uri(spark, tmp_path):
    """LogLake + compact_lake over a scheme-qualified root: write two
    batches (small files), read both formats back, compact, re-read."""
    root = f"file://{tmp_path}/lake"
    lake = LogLake(root)
    lake.write_batch(_cri_batch(spark, 30, 0), fmt="parquet")
    lake.write_batch(_cri_batch(spark, 30, 30), fmt="parquet")
    lake.write_batch(_cri_batch(spark, 10, 0), fmt="arrow")

    df = lake.read(spark, fmt="parquet")
    assert df.count() == 60
    assert df.filter(F.col("message").contains("qline 42")).count() == 1
    row = df.filter(F.col("message").contains("qline 3")).first()
    assert (row.namespace, row.pod, row.cluster) == ("qa", "app-1", "dev")
    assert lake.read(spark, fmt="arrow").count() == 10

    local = f"{tmp_path}/lake"
    n_before = len(globmod.glob(f"{local}/**/*.parquet", recursive=True))
    assert n_before >= 2
    compact_lake(spark, root)
    assert lake.read(spark, fmt="parquet").count() == 60
    n_after = len(globmod.glob(f"{local}/**/*.parquet", recursive=True))
    assert n_after < n_before

    # selector pushdown still works through the qualified root
    assert lake.read(spark, selectors={"namespace": "qa"}).count() == 60
    assert lake.read(spark, selectors={"namespace": "other"}).count() == 0

"""File/metadata introspection (SURVEY §2.1 S3-S6).

DuckDB offers ``glob()``, ``parquet_schema()``, ``parquet_metadata()``
and ``DESCRIBE`` as table functions (reference ``test.sh:148-172``,
``y-logcli:267-273``). Spark equivalents: a binaryFile listing scan for
glob, pyarrow footer reads for parquet physical metadata (these are
metadata-only — no data pages touched), and DataFrame schemas for
DESCRIBE.
"""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def glob_files(spark: SparkSession, pattern: str) -> DataFrame:
    """File listing as a DataFrame (DuckDB ``glob('…')``)."""
    return (
        spark.read.format("binaryFile").load(pattern).select("path", "length", "modificationTime")
    )


def _local(path: str) -> str:
    if path.startswith("file:"):
        return "/" + path[5:].lstrip("/")
    return path


def parquet_schema(spark: SparkSession, path: str) -> DataFrame:
    """Column name / physical type / logical type of a parquet file —
    including the nanosecond logical type Spark's reader hides
    (DuckDB ``parquet_schema``; reference asserts TIMESTAMP_NS via this,
    ``test.sh:156-165``)."""
    schema = pq.read_schema(_local(path))
    meta = pq.ParquetFile(_local(path)).schema
    rows = []
    for i, name in enumerate(schema.names):
        col = meta.column(i)
        rows.append(
            (
                path,
                name,
                str(col.physical_type),
                str(col.logical_type),
                str(schema.field(name).type),
            )
        )
    return spark.createDataFrame(
        rows, "file_name string, name string, type string, logical_type string, arrow_type string"
    )


def parquet_metadata(spark: SparkSession, path: str) -> DataFrame:
    """Row-group metadata: encodings, compression, sizes (DuckDB
    ``parquet_metadata``; reference ``test.sh:166-172``)."""
    f = pq.ParquetFile(_local(path))
    rows = []
    for rg in range(f.metadata.num_row_groups):
        g = f.metadata.row_group(rg)
        for c in range(g.num_columns):
            col = g.column(c)
            rows.append(
                (
                    path,
                    rg,
                    col.path_in_schema,
                    col.num_values,
                    str(col.compression),
                    ",".join(map(str, col.encodings)),
                    col.total_compressed_size,
                    col.total_uncompressed_size,
                )
            )
    return spark.createDataFrame(
        rows,
        "file_name string, row_group_id long, path_in_schema string, num_values long, "
        "compression string, encodings string, total_compressed_size long, "
        "total_uncompressed_size long",
    )


def describe(df: DataFrame) -> list[tuple[str, str]]:
    """(column, type) of any DataFrame (DESCRIBE <query>)."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def schema_diff(spark: SparkSession, path_a: str, path_b: str) -> DataFrame:
    """Schema drift between two parquet files (old → new): one row per
    column with status added / removed / type_changed / unchanged and
    the arrow types on both sides — the check a lake runs before
    appending a new ingest batch to an existing table.

    Footer-only (no data pages), like the rest of this module; the
    result is a handful of rows regardless of table size.
    """
    a = {
        f.name: str(f.type) for f in pq.read_schema(_local(path_a))
    }
    b = {
        f.name: str(f.type) for f in pq.read_schema(_local(path_b))
    }
    rows = []
    for name in sorted(set(a) | set(b)):
        ta, tb = a.get(name), b.get(name)
        if ta is None:
            status = "added"
        elif tb is None:
            status = "removed"
        elif ta != tb:
            status = "type_changed"
        else:
            status = "unchanged"
        rows.append((name, status, ta, tb))
    return spark.createDataFrame(
        rows, "name string, status string, type_a string, type_b string"
    )

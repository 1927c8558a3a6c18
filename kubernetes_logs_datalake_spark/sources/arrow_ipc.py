"""Arrow IPC (Feather v2) source and sink.

The reference writes every record batch twice: Parquet and Arrow IPC
with ZSTD body compression and int8-dictionary-encoded low-cardinality
columns (reference ``images/fluentbit/compact_columns.c:332-418``; ZSTD
chosen at ``:399-402``). Spark has no Arrow IPC file source, so:

- **read**: ``binaryFile`` source → ``mapInArrow`` decode with pyarrow.
  Distributed (each file decodes on an executor), Arrow-native end to
  end (no pandas hop), and handles dictionary+ZSTD bodies that even
  DuckDB's nanoarrow extension cannot (reference ``test.sh:10-13``).
  For 100 TB the unit of parallelism is the file — the ingest layer
  bounds file sizes (~1 MB-class micro-batches), so scans stay even.
- **write**: :func:`write_arrow_file`, called executor-side by the
  lake's one-pass writer (``LogLake.write_formats``) on the same sorted
  slice its Parquet file is written from, preserving the reference's
  storage contract: ns ``time_ns``, int8 dictionary for stream/logtag,
  ZSTD bodies.
"""

from __future__ import annotations

import contextlib
import posixpath
import uuid
from collections.abc import Callable, Iterator
from urllib.parse import quote, unquote

import pyarrow as pa
import pyarrow.feather as feather
import pyarrow.ipc as ipc

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

from kubernetes_logs_datalake_spark.session import pyarrow_s3_options

DICT_COLUMNS = ("stream", "logtag")

# Spark's escaping of hive partition values in directory names
# (ExternalCatalogUtils.escapePathName), so partition discovery reads
# back the exact value: '/' or ':' in a cluster name stays one level.
_HIVE_ESCAPED = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # null or empty value


def hive_dir_value(value) -> str:
    """A partition value as it is written in a ``<column>=<value>`` directory name."""
    if value is None or value == "":
        return HIVE_DEFAULT_PARTITION
    return "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPED else ch for ch in str(value))


# ---------------------------------------------------------------------- read

# binaryFile's own columns; a user schema adds hive partition columns
_BINARY_FILE_FIELDS = [
    T.StructField("path", T.StringType(), False),
    T.StructField("modificationTime", T.TimestampType(), False),
    T.StructField("length", T.LongType(), False),
    T.StructField("content", T.BinaryType(), True),
]


def _normalized_arrow_schema(schema: pa.Schema) -> pa.Schema:
    """Schema as the reader will surface it: dictionary→value type,
    ns-timestamp→int64. Used to detect heterogeneous files early."""
    fields = []
    for f in schema:
        typ = f.type
        if pa.types.is_dictionary(typ):
            typ = typ.value_type
        if pa.types.is_timestamp(typ) and typ.unit == "ns":
            typ = pa.int64()
        fields.append(pa.field(f.name, typ))
    return pa.schema(fields)


def _decode_schema(schema: pa.Schema, extra: list[str]) -> T.StructType:
    """Spark schema for an IPC file schema (ns timestamps → long), then
    the string columns ``extra`` (partition values, ``_file``)."""
    fields = []
    for f in schema:
        typ = f.type
        if pa.types.is_dictionary(typ):
            typ = typ.value_type
        if pa.types.is_timestamp(typ) and typ.unit == "ns":
            spark_t: T.DataType = T.LongType()
        else:
            spark_t = T.StructType.fromDDL(f"x {_arrow_to_ddl(typ)}")[0].dataType
        fields.append(T.StructField(f.name, spark_t, True))
    fields += [T.StructField(c, T.StringType(), True) for c in extra]
    return T.StructType(fields)


def _arrow_to_ddl(typ: pa.DataType) -> str:
    mapping = {
        pa.string(): "string",
        pa.large_string(): "string",
        pa.int8(): "tinyint",
        pa.int16(): "smallint",
        pa.int32(): "int",
        pa.int64(): "bigint",
        pa.float32(): "float",
        pa.float64(): "double",
        pa.bool_(): "boolean",
        pa.binary(): "binary",
    }
    if typ in mapping:
        return mapping[typ]
    if pa.types.is_timestamp(typ):
        return "timestamp_ntz"
    raise TypeError(f"unsupported arrow type in IPC source: {typ}")


def _normalize_batch(table: pa.Table, constants: dict[str, str | None]) -> pa.Table:
    """Dictionary→plain decode; ns-timestamp→int64; then one string
    column per ``constants`` entry (the file's partition values and
    name), the same value on every row."""
    cols = []
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_dictionary(col.type):
            col = col.cast(col.type.value_type)
        if pa.types.is_timestamp(col.type) and col.type.unit == "ns":
            col = col.cast(pa.int64())
        cols.append(col)
    out = pa.table(dict(zip(table.column_names, cols)))
    for name, value in constants.items():
        out = out.append_column(name, pa.array([value] * len(out), pa.string()))
    return out


def _s3_options(spark: SparkSession, root: str) -> dict | None:
    """The session's S3A settings as pyarrow S3 options for an object-store
    root (read on the driver; workers have no JVM), else ``None``."""
    if not _normalize_uri(root).startswith("s3://"):
        return None
    return pyarrow_s3_options(spark.sparkContext._jsc.hadoopConfiguration().get)


def glob_matches(spark: SparkSession, pattern: str) -> bool:
    """Whether a Hadoop glob matches any path. Spark's own ``load`` of
    an empty glob fails with an analysis error; this asks first."""
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(pattern)
    found = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).globStatus(path)
    return bool(found)


def _footer_schema(uri: str, s3: dict | None) -> pa.Schema:
    """The IPC schema in one listed file's footer, read on the driver
    through ``pyarrow.fs`` (a footer read, no Spark job).
    ``inputFiles()`` lists percent-encoded URIs (a hive-escaped ``%3A``
    is listed as ``%253A``), so the URI is decoded to the name first."""
    filesystem, path = _resolve_fs(unquote(uri), s3)
    with filesystem.open_input_file(path) as f:
        try:
            return ipc.open_file(f).schema
        except pa.ArrowInvalid as exc:
            raise ValueError(f"{uri} is not an Arrow IPC file: {exc}") from exc


def read_arrow(
    spark: SparkSession,
    path_glob: str,
    with_filename: bool = True,
    partitions: tuple[str, ...] = (),
    where: Column | None = None,
) -> DataFrame:
    """Read Arrow IPC files as a DataFrame.

    The Spark analog of DuckDB's ``read_arrow(glob, filename=true)``
    (reference ``y-logcli:210-213``). File bytes travel through
    ``binaryFile``'s ``content`` column and decode executor-side from
    ``pa.BufferReader`` inside ``mapInArrow`` — no local-path
    assumption, so the same plan runs on any Hadoop filesystem
    (``s3a://``, ``abfs://``, local), matching the reference's S3-glob
    reads. Decode scales with the number of files, not driver memory;
    the ingest layer bounds file sizes (~1 MB-class micro-batches).

    ``path_glob`` is a glob or a directory, read recursively (Hadoop globs
    have no ``**``). With ``partitions`` it is instead the root of a
    hive-partitioned lake: ``binaryFile`` discovers the
    ``<column>=<value>`` directories as string columns, and ``where``, a
    predicate on them, filters the file listing before any file is read
    (``PartitionFilters``), as Spark's Parquet source prunes. The schema
    is the IPC footer of one listed file, read on the driver; each file
    is checked against it as it decodes. A listing with no ``.arrow``
    file raises :class:`FileNotFoundError`.
    """
    reader = spark.read.format("binaryFile").option("pathGlobFilter", "*.arrow")
    if partitions:
        fields = _BINARY_FILE_FIELDS + [T.StructField(p, T.StringType(), True) for p in partitions]
        files = reader.schema(T.StructType(fields)).option("basePath", path_glob).load(path_glob)
    elif any(ch in path_glob for ch in "*?["):
        if not glob_matches(spark, path_glob):
            raise FileNotFoundError(f"no .arrow files match {path_glob}")
        files = reader.load(path_glob)
    else:
        files = reader.option("recursiveFileLookup", "true").load(path_glob)
    listed = files.inputFiles()
    if not listed:
        raise FileNotFoundError(f"no .arrow files under {path_glob}")
    expect = _footer_schema(listed[0], _s3_options(spark, path_glob))
    if where is not None:
        files = files.filter(where)
    extra = [*partitions, "_file"] if with_filename else list(partitions)
    schema = _decode_schema(expect, extra)
    expect_norm = _normalized_arrow_schema(expect)

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            paths = batch.column("path").to_pylist()
            contents = batch.column("content").to_pylist()
            values = [batch.column(p).to_pylist() for p in partitions]
            for i, (fname, buf) in enumerate(zip(paths, contents)):
                try:
                    rd = ipc.open_file(pa.BufferReader(buf))
                except pa.ArrowInvalid as exc:
                    raise ValueError(f"{fname} is not an Arrow IPC file: {exc}") from exc
                got_norm = _normalized_arrow_schema(rd.schema)
                if got_norm != expect_norm:
                    raise ValueError(
                        f"heterogeneous Arrow IPC schema in {fname}: "
                        f"expected {expect_norm}, got {got_norm}"
                    )
                constants = {p: v[i] for p, v in zip(partitions, values)}
                if with_filename:
                    constants["_file"] = fname
                yield from _normalize_batch(rd.read_all(), constants).to_batches()

    return files.select("path", "content", *partitions).mapInArrow(decode, schema)


# --------------------------------------------------------------------- write


def _resolve_fs(dest: str, s3: dict | None = None):
    """``(pyarrow.fs.FileSystem, path)`` for a destination URI.

    Runs executor-side (inside ``applyInArrow`` workers, where no JVM —
    hence no Hadoop FileSystem API — is reachable), so the sink resolves
    the filesystem from the URI with ``pyarrow.fs``: ``s3a://``/
    ``s3n://`` (the Hadoop S3 connector schemes the reference's lake
    uses, ``fluent-bit.conf:32-45``) map onto pyarrow's S3FileSystem;
    ``file://`` and scheme-less paths resolve to the local filesystem.
    The path is taken as written, never percent-decoded, so a
    hive-escaped directory name keeps its ``%XX``.
    ``s3`` carries the session's S3A settings as S3FileSystem arguments
    (:func:`kubernetes_logs_datalake_spark.session.pyarrow_s3_options`),
    so writes reach the same endpoint the Hadoop reads do.
    This is the write-side mirror of the reader's ``binaryFile`` +
    ``BufferReader`` object-store path; the reader's driver-side footer
    read resolves through it too.
    """
    from pyarrow import fs as pafs

    scheme, sep, rest = _normalize_uri(dest).partition("://")
    if not sep:
        return pafs.LocalFileSystem(), dest
    if scheme == "file":
        return pafs.LocalFileSystem(), rest
    if s3 is not None and scheme == "s3":
        return pafs.S3FileSystem(**s3), rest
    # from_uri percent-decodes the path: quote it, so a hive-escaped
    # ``%3A`` in a directory name stays three characters
    return _fs_from_uri(f"{scheme}://{quote(rest)}")


def _fs_from_uri(uri: str):
    """Thin seam over ``pyarrow.fs.FileSystem.from_uri`` (a C-extension
    static that cannot be monkeypatched directly)."""
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(uri)


def _normalize_uri(dest: str) -> str:
    """Scheme normalization only (separable from filesystem
    construction so the routing rule is testable in builds where
    pyarrow lacks the S3 filesystem): the Hadoop connector schemes
    s3a/s3n become the s3 scheme pyarrow's from_uri understands."""
    if dest.startswith(("s3a://", "s3n://")):
        return "s3://" + dest.split("://", 1)[1]
    return dest


def _to_arrow_compact(table: pa.Table) -> pa.Table:
    """Apply the reference's column compaction to an Arrow table:
    int8-dictionary-encode the 2-3-value columns (reference
    ``compact_columns.c:193-239,245-330`` — int8 indices save 3 B/row
    over int32) and carry ns timestamps natively."""
    cols = {}
    for name in table.column_names:
        col = table.column(name)
        if name in DICT_COLUMNS and pa.types.is_string(col.type):
            dict_arr = col.combine_chunks().dictionary_encode()
            col = pa.DictionaryArray.from_arrays(dict_arr.indices.cast(pa.int8()), dict_arr.dictionary)
        cols[name] = col
    return pa.table(cols)


def write_via_hidden_name(dest: str, write: Callable[[pa.NativeFile], None], s3: dict | None = None) -> None:
    """Write ``dest`` under a hidden name in its directory, then move it
    into place. Spark's file listing (Parquet, ``binaryFile``, the file
    stream source) skips names that start with ``.``, so a query running
    while ingest writes, or after a crash mid-write, never lists a torn
    file; a replayed write moves its new copy over the old one."""
    filesystem, path = _resolve_fs(dest, s3)
    parent, _, name = path.rpartition("/")
    if parent:
        filesystem.create_dir(parent, recursive=True)
    tmp = posixpath.join(parent, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    try:
        with filesystem.open_output_stream(tmp) as sink:
            write(sink)
        filesystem.move(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            filesystem.delete_file(tmp)
        raise


def write_arrow_file(table: pa.Table, dest: str, s3: dict | None = None) -> None:
    """One Feather-v2 file: ZSTD bodies + compacted columns — the same
    storage contract the reference's writer produces. ``dest`` may be a
    local path or any ``pyarrow.fs``-resolvable URI (``file://``,
    ``s3://``/``s3a://``) — writes go through the filesystem's output
    stream (:func:`write_via_hidden_name`), never ``os`` local-path calls."""
    write_via_hidden_name(
        dest, lambda sink: feather.write_feather(_to_arrow_compact(table), sink, compression="zstd"), s3
    )

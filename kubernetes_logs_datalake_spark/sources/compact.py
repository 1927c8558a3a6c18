"""The one lake rewriter: small-file compaction, and the claim protocol
under which every rewrite of lake files is published (compaction here,
key-based upsert in ``sources.maintenance.merge_upsert``).

:func:`compact_lake` is the OPTIMIZE-style answer to the micro-batch
files the reference accepts (``fluent-bit.conf:42-43``). It rewrites
each partition directory's ingest files (``part-<hex>…`` names), each
format on its own, Arrow IPC included, in bins of about ``_BIN_BYTES``
source bytes. One Python task reads a bin, decodes its dictionaries and
writes it through the ingest writer's :func:`~.logs.write_slices`, so
compacted files keep the ingest shape: sorted by ``time_ns``, ZSTD,
DELTA time, int8 dictionaries. A bin's targets are named
``part-compact-<key>-<slice>``, where ``key`` hashes the bin's sorted
sources; no ingest name looks like that, and compacted files are never
compaction sources again.

Claim protocol, per partition directory and rewrite:

1. **claim**: a hidden manifest ``.compact-<key>.json`` lists exactly
   the sources taken from the listing, so a file appended later is
   neither read nor deleted;
2. **publish**: each target is written under a hidden name and moved
   into place (:func:`~.arrow_ipc.write_via_hidden_name`);
3. **record**: the manifest is rewritten with each target's byte length;
4. the sources are deleted;
5. the manifest is retired.

Every rewrite first replays the manifests a crash left behind, by one
rule. Without a published record, the claim's targets are deleted: the
sources were never touched, so the lake is back to its pre-state. With
one, each target's length is checked, the surviving sources are deleted
and the manifest is retired.

Readers never list a torn file and never miss a row. Between steps 2
and 4 they can see a rewritten row twice (in a target and in a source),
within the lake's at-least-once contract; a table format's commit log
closes that window (``sources/delta_lake.py``). Run one rewriter per
lake at a time.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import tempfile
from collections.abc import Iterable
from typing import NamedTuple

import pyarrow as pa
import pyarrow.ipc as ipc
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import SparkSession

from kubernetes_logs_datalake_spark.sources.arrow_ipc import (
    _normalize_batch,
    _resolve_fs,
    _s3_options,
    write_via_hidden_name,
)
from kubernetes_logs_datalake_spark.sources.logs import LogLake, write_slices

# Source bytes per bin. A task holds its bin decoded, several times its
# ZSTD size; the file that crosses the bound still joins (and closes) it.
_BIN_BYTES = 64 << 20
# part-<uuid hex>-<slice> (write_batch), part-<epoch>-<query id>-<slice> (ingest)
_INGEST_NAME = re.compile(r"part-[0-9a-f]+(?:-[0-9a-f]+)*\.(parquet|arrow)")
_MANIFEST_NAME = re.compile(r"\.compact-([0-9a-f]{16})\.json")


class LakeFiles:
    """A lake root as its writers see it: ``uri`` names files for
    :func:`write_via_hidden_name` and the Python workers, ``fs``/``base``
    list and delete them on the driver, all through ``pyarrow.fs``."""

    def __init__(self, spark: SparkSession, root: str):
        self.uri = root.rstrip("/")
        self.s3 = _s3_options(spark, self.uri)
        self.fs, self.base = _resolve_fs(self.uri, self.s3)

    def path(self, *rel: str) -> str:
        return "/".join([self.base, *(r for r in rel if r)])

    def file_uri(self, *rel: str) -> str:
        return "/".join([self.uri, *(r for r in rel if r)])


class Claim(NamedTuple):
    dir: str  # partition directory, relative to the lake root
    key: str
    sources: tuple[str, ...]  # file names in ``dir``

    @property
    def manifest(self) -> str:
        return f".compact-{self.key}.json"

    def targets(self, files: dict[str, int]) -> dict[str, int]:
        """This claim's targets among ``files`` (names → bytes)."""
        return {n: size for n, size in files.items() if n.startswith(f"part-compact-{self.key}-")}


def claim_key(paths: Iterable[str]) -> str:
    return hashlib.sha256("\n".join(sorted(paths)).encode()).hexdigest()[:16]


def _listing(lake: LakeFiles, rel: str = "") -> dict[str, dict[str, int]]:
    """Every file under ``rel`` (hidden names included), by directory
    relative to it: ``{dir: {name: bytes}}``."""
    top = lake.path(rel)
    out: dict[str, dict[str, int]] = {}
    for info in lake.fs.get_file_info(pafs.FileSelector(top, allow_not_found=True, recursive=True)):
        if info.type == pafs.FileType.File:
            d, _, name = info.path[len(top):].strip("/").rpartition("/")
            out.setdefault(d, {})[name] = info.size
    return out


def _delete(lake: LakeFiles, rel: str, name: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        lake.fs.delete_file(lake.path(rel, name))


def _write_manifest(lake: LakeFiles, c: Claim, body: dict) -> None:
    data = json.dumps(body).encode()
    write_via_hidden_name(lake.file_uri(c.dir, c.manifest), lambda sink: sink.write(data), lake.s3)


def claim(lake: LakeFiles, c: Claim) -> None:
    """Step 1."""
    _write_manifest(lake, c, {"sources": list(c.sources)})


def finish(lake: LakeFiles, c: Claim) -> None:
    """Steps 3-5, once every target of ``c`` is published."""
    targets = c.targets(_listing(lake, c.dir).get("", {}))
    if not targets:
        raise RuntimeError(f"no target published for {lake.file_uri(c.dir, c.manifest)}")
    _write_manifest(lake, c, {"sources": list(c.sources), "published": targets})
    _retire(lake, c)


def _retire(lake: LakeFiles, c: Claim) -> None:
    for name in (*c.sources, c.manifest):
        _delete(lake, c.dir, name)


def _replay(lake: LakeFiles, listing: dict[str, dict[str, int]]) -> bool:
    """Finish or undo every claim in ``listing``; whether there was one."""
    found = False
    for rel, files in listing.items():
        for name in files:
            m = _MANIFEST_NAME.fullmatch(name)
            if m is None:
                continue
            found = True
            c = Claim(rel, m.group(1), ())
            with lake.fs.open_input_stream(lake.path(rel, name)) as f:
                body = json.loads(f.read())
            targets = c.targets(files)
            if "published" in body:
                torn = sorted(n for n, size in body["published"].items() if targets.get(n) != size)
                if torn:
                    raise RuntimeError(
                        f"{lake.file_uri(rel, name)}: published targets {torn} are missing or "
                        "torn; the lake was changed outside its rewriter"
                    )
                c = c._replace(sources=tuple(body["sources"]))
            else:
                for target in targets:
                    _delete(lake, rel, target)
            _retire(lake, c)
    return found


def snapshot(lake: LakeFiles) -> dict[str, dict[str, int]]:
    """The listing a rewrite plans from, after every claim a crashed
    rewrite left has been replayed."""
    listing = _listing(lake)
    if _replay(lake, listing):
        listing = _listing(lake)
    return listing


def compact_lake(spark: SparkSession, lake_root: str, min_files: int = 2) -> int:
    """Compact every partition directory that holds at least
    ``min_files`` ingest files of one format; returns the number of bins
    rewritten. Per-format row counts are unchanged (compaction
    concatenates and re-sorts, it never drops or dedups), and a re-run
    with no new ingest files rewrites nothing."""
    lake = LakeFiles(spark, lake_root)
    claims = []
    for rel, files in sorted(snapshot(lake).items()):
        for ext in ("parquet", "arrow"):
            sources = {
                n: size for n, size in files.items() if (m := _INGEST_NAME.fullmatch(n)) and m.group(1) == ext
            }
            if len(sources) < min_files:
                continue
            claims += [
                Claim(rel, claim_key(f"{rel}/{n}" for n in names), tuple(names))
                for names in _bins(sources)
                if len(names) > 1
            ]
    for c in claims:
        claim(lake, c)
    if claims:
        _rewrite_bins(spark, lake, claims)
    for c in claims:
        finish(lake, c)
    return len(claims)


def _bins(sizes: dict[str, int]) -> list[list[str]]:
    """Files packed in name order by exclusive running size DIV
    ``_BIN_BYTES``: the file that crosses the bound still joins its bin
    and closes it."""
    bins: dict[int, list[str]] = {}
    cum = 0
    for name in sorted(sizes):
        bins.setdefault(cum // _BIN_BYTES, []).append(name)
        cum += sizes[name]
    return list(bins.values())


def _rewrite_bins(spark: SparkSession, lake: LakeFiles, claims: list[Claim]) -> None:
    """Step 2 of compaction, one Spark job: each bin is one group of a
    ``groupBy(dir, key).applyInArrow``, rewritten by :func:`_rewrite_bin`."""
    uri, s3, max_rows = lake.uri, lake.s3, LogLake.max_records_per_file

    def rewrite(group: tuple, sources: pa.Table) -> pa.Table:
        rel, key = (v.as_py() for v in group)
        dir_uri = "/".join(p for p in (uri, rel) if p)
        names = sources.column("name").to_pylist()
        return pa.table({"rows": [_rewrite_bin(dir_uri, key, names, max_rows, s3)]})

    rows = [(c.dir, c.key, name) for c in claims for name in c.sources]
    (
        spark.createDataFrame(rows, "dir string, key string, name string")
        .groupBy("dir", "key")
        .applyInArrow(rewrite, "rows long")
        .collect()
    )


def _rewrite_bin(dir_uri: str, key: str, names: list[str], max_rows: int, s3: dict | None) -> int:
    """Read one bin's files (all of one format), decode their Arrow
    dictionaries, and write the rows as ``part-compact-<key>-<slice>``."""
    filesystem, path = _resolve_fs(dir_uri, s3)
    ext = names[0].rsplit(".", 1)[1]
    tables = []
    for name in sorted(names):
        with filesystem.open_input_file(f"{path}/{name}") as f:
            table = pq.read_table(f) if ext == "parquet" else ipc.open_file(f).read_all()
        tables.append(_normalize_batch(table, {}))
    table = pa.concat_tables(tables, promote_options="default")
    write_slices(table, f"{dir_uri}/part-compact-{key}", (ext,), max_rows, s3)
    return table.num_rows


class _Fs:
    """Thin driver-side seam over the Hadoop FileSystem API — the one
    code path that works on file://, hdfs:// and s3a:// alike (same
    abstraction as ``maintenance._fs``). All operations here touch
    METADATA or single staged files; the data rewrite itself is the
    distributed Spark job in :func:`_rewrite_bin`.
    """

    def __init__(self, spark: SparkSession, root: str):
        from kubernetes_logs_datalake_spark.sources.maintenance import _fs

        self.jvm = spark.sparkContext._jvm
        self.conf = spark.sparkContext._jsc.hadoopConfiguration()
        self.fs, self.hpath, _ = _fs(spark, root)

    def exists(self, p: str) -> bool:
        return self.fs.exists(self.hpath(p))

    def length(self, p: str) -> int:
        return int(self.fs.getFileStatus(self.hpath(p)).getLen())

    def delete(self, p: str) -> None:
        self.fs.delete(self.hpath(p), True)

    def rename(self, src: str, dst: str) -> None:
        if not self.fs.rename(self.hpath(src), self.hpath(dst)):
            raise RuntimeError(f"rename failed: {src} -> {dst}")

    def copy(self, src: str, dst: str) -> None:
        # server-side/stream copy; on an object store this is the PUT
        self.jvm.org.apache.hadoop.fs.FileUtil.copy(
            self.fs, self.hpath(src), self.fs, self.hpath(dst),
            False, True, self.conf,
        )

    def glob(self, pattern: str) -> list[str]:
        statuses = self.fs.globStatus(self.hpath(pattern))
        if statuses is None:
            return []
        return sorted(str(s.getPath().toString()) for s in statuses)

    def read_small(self, p: str) -> bytes:
        stream = self.fs.open(self.hpath(p))
        try:
            return bytes(
                self.jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_small_atomic(self, p: str, data: bytes) -> None:
        """Stage to a local temp file, upload under a ``.tmp`` name
        (doesn't match the manifest glob, so a crashed upload is
        invisible), then rename into place."""
        tmp_remote = p + ".tmp"
        fd, local = tempfile.mkstemp(prefix="kld-manifest-")
        try:
            with os.fdopen(fd, "wb") as fh:
                fh.write(data)
            self.fs.copyFromLocalFile(
                True, True, self.hpath("file:" + local), self.hpath(tmp_remote)
            )
        finally:
            if os.path.exists(local):
                os.remove(local)
        if self.exists(p):
            self.delete(p)
        self.rename(tmp_remote, p)

"""The lake rewriter (``sources/compact.py``): compaction of both formats
through the ingest writer, and crash replay of its claim protocol.

Each lake here is a few tiny ingest batches written by
``LogLake.write_formats``. A crash is injected at one protocol step, the
next run must converge to exact per-format counts with one compacted file
per format and no manifest, and a further run must change no file.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.ipc as ipc
import pyarrow.parquet as pq
import pytest

from kubernetes_logs_datalake_spark.plans import LogQuery
from kubernetes_logs_datalake_spark.sources import LogLake, parse_cri_lines
from kubernetes_logs_datalake_spark.sources import compact as cmod
from kubernetes_logs_datalake_spark.sources.compact import compact_lake

FORMATS = ("parquet", "arrow")
QUERY_ID = "ab" * 16  # an ingest stream's query id (hex)


def _batch(spark, lake, b, namespaces=("qa",), cluster="dev", rows=5):
    """Ingest batch ``b``: ``rows`` records per namespace, both formats,
    one file per format and partition."""
    lines = [
        (
            f"/var/log/pods/{ns}_p-1_uid/app/0.log",
            f"2024-01-15T10:{b:02d}:{i:02d}.{i:09d}Z stdout F {ns}-b{b}-{i}",
        )
        for ns in namespaces
        for i in range(rows)
    ]
    raw = spark.createDataFrame(lines, ["path", "value"])
    records = parse_cri_lines(raw, path_col="path", cluster=cluster, node="n1")
    lake.write_formats(records, FORMATS, f"{b:05d}-{QUERY_ID}")


def _lake(spark, root, batches=3, **kw):
    lake = LogLake(root)
    for b in range(batches):
        _batch(spark, lake, b, **kw)
    return lake


def _messages(spark, lake, fmt, **kw):
    return Counter(r.message for r in lake.read(spark, fmt, **kw).collect())


def _files(root):
    """{relative path: (inode, mtime, size)} of every file, hidden ones too."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.relpath(os.path.join(d, n), root)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _names(root, ext):
    return sorted(p for p in _files(root) if p.endswith(f".{ext}") and not os.path.basename(p).startswith("."))


def _scans(df, fmt_name):
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        else:
            if cls == "FileSourceScanExec" and fmt_name in p.relation().fileFormat().toString().lower():
                out.append(p)
            stack.extend(p.children().apply(i) for i in range(p.children().size()))
    return out


def _files_decoded(df) -> int:
    df.collect()
    total = 0
    for scan in _scans(df, "binaryfile"):
        m = scan.metrics().get("numFiles")
        total += int(m.get().value()) if m.isDefined() else 0
    return total


def test_compact_reduces_files_preserves_query(spark, tmp_path):
    """Four batches over two namespaces: each partition's files of each
    format become one, every record survives once per format, and the
    compacted files have the ingest shape."""
    root = str(tmp_path / "lake")
    lake = _lake(spark, root, batches=4, namespaces=("qa", "prod"))
    before = {fmt: _messages(spark, lake, fmt) for fmt in FORMATS}
    assert all(sum(c.values()) == 40 and set(c.values()) == {1} for c in before.values())
    ingest = {fmt: _names(root, fmt) for fmt in FORMATS}
    assert all(len(v) == 8 for v in ingest.values())
    shapes = {
        "parquet": pq.read_schema(os.path.join(root, ingest["parquet"][0])),
        "arrow": ipc.open_file(os.path.join(root, ingest["arrow"][0])).schema,
    }

    assert compact_lake(spark, root) == 4  # 2 partitions x 2 formats

    for fmt in FORMATS:
        names = _names(root, fmt)
        assert len(names) == 2 and all("/part-compact-" in n for n in names), names
        assert _messages(spark, lake, fmt) == before[fmt]
    for name in _names(root, "parquet"):
        f = pq.ParquetFile(os.path.join(root, name))
        assert f.schema_arrow == shapes["parquet"]
        col = f.metadata.row_group(0).column(0)
        assert (col.path_in_schema, col.compression) == ("time_ns", "ZSTD")
        assert "DELTA_BINARY_PACKED" in col.encodings
        times = f.read().column("time_ns").to_pylist()
        assert times == sorted(times) and len(times) == 20
    for name in _names(root, "arrow"):
        assert ipc.open_file(os.path.join(root, name)).schema == shapes["arrow"]


def test_compaction_cuts_files_decoded_per_query(spark, tmp_path):
    """A one-namespace Arrow query decodes one file per batch before
    compaction and one file after it."""
    root = str(tmp_path / "lake")
    lake = _lake(spark, root, batches=4, namespaces=("qa", "prod"))
    query = LogQuery(lake, cluster="dev", selectors={"namespace": "qa"}, fmt="arrow")
    assert _files_decoded(query.df(spark)) == 4
    compact_lake(spark, root)
    df = query.df(spark)
    assert _files_decoded(df) == 1
    assert df.count() == 20


def test_compaction_keeps_escaped_and_all_digit_partition_values(spark, tmp_path):
    """Cluster ``a:b`` (escaped as ``a%3Ab``) and namespace ``007`` keep
    their directories and their rows in both formats."""
    root = str(tmp_path / "lake")
    lake = _lake(spark, root, namespaces=("007",), cluster="a:b")
    dirs = {os.path.dirname(p) for p in _names(root, "parquet") + _names(root, "arrow")}
    assert dirs == {"cluster=a%3Ab/namespace=007/date=2024-01-15"}
    sel = {"cluster": "a:b", "selectors": {"namespace": "007"}}
    assert {fmt: lake.read(spark, fmt, **sel).count() for fmt in FORMATS} == {"parquet": 15, "arrow": 15}

    compact_lake(spark, root)

    assert {os.path.dirname(p) for p in _names(root, "parquet") + _names(root, "arrow")} == dirs
    assert {fmt: len(_names(root, fmt)) for fmt in FORMATS} == {"parquet": 1, "arrow": 1}
    assert {fmt: lake.read(spark, fmt, **sel).count() for fmt in FORMATS} == {"parquet": 15, "arrow": 15}


def test_compact_rerun_is_noop(spark, tmp_path):
    root = str(tmp_path / "lake")
    _lake(spark, root)
    assert compact_lake(spark, root) == 2
    files = _files(root)
    # compacted files are never sources, so nothing is left to rewrite
    assert compact_lake(spark, root) == 0
    assert _files(root) == files


def test_compact_oversized_file_untouched(spark, tmp_path, monkeypatch):
    """A bin bound below every file size: each file closes its own bin,
    and a one-file bin is not rewritten."""
    root = str(tmp_path / "lake")
    _lake(spark, root)
    files = _files(root)
    monkeypatch.setattr(cmod, "_BIN_BYTES", 1)
    assert compact_lake(spark, root) == 0
    assert _files(root) == files


def test_bins_pack_by_exclusive_running_size(monkeypatch):
    """Running sizes 0, 40, 80, 120 against a bound of 100 give bins
    0, 0, 0, 1; an oversized file closes its bin."""
    monkeypatch.setattr(cmod, "_BIN_BYTES", 100)
    assert cmod._bins({f"f{i}": 40 for i in range(4)}) == [["f0", "f1", "f2"], ["f3"]]
    assert cmod._bins({"a": 10, "big": 250, "z": 10}) == [["a", "big"], ["z"]]


def test_compact_leaves_files_appended_after_the_listing(spark, tmp_path, monkeypatch):
    """A batch written between the listing and the rewrite is neither
    read nor deleted."""
    root = str(tmp_path / "lake")
    lake = _lake(spark, root)
    real = cmod._listing
    calls = []

    def listing_then_append(*args):
        out = real(*args)
        if not calls:
            _batch(spark, lake, 9)
        calls.append(1)
        return out

    monkeypatch.setattr(cmod, "_listing", listing_then_append)
    compact_lake(spark, root)
    monkeypatch.undo()
    for fmt in FORMATS:
        msgs = _messages(spark, lake, fmt)
        assert sum(msgs.values()) == 20 and set(msgs.values()) == {1}, fmt
        assert len(_names(root, fmt)) == 2  # the compacted file + the late one


# ------------------------------------------------------------ crash replay


class Crash(RuntimeError):
    pass


def _manifests(root):
    return sorted(p for p in _files(root) if os.path.basename(p).startswith(".compact-"))


def _crash_then_converge(spark, tmp_path, monkeypatch, inject, crashed_state=None):
    """Compact a one-partition dual-format lake (two bins) with ``inject``
    applied; a batch lands; then re-run without it: exact per-format
    counts, no duplicate, no manifest, and a further run is a no-op."""
    root = str(tmp_path / "lake")
    lake = _lake(spark, root)
    before = {fmt: _messages(spark, lake, fmt) for fmt in FORMATS}
    inject(root)
    with pytest.raises(Crash):
        compact_lake(spark, root)
    monkeypatch.undo()
    for fmt in FORMATS:  # never a lost row, whatever the crash point
        assert set(_messages(spark, lake, fmt)) == set(before[fmt]), fmt
    if crashed_state is not None:
        crashed_state(root, lake)
    # a late batch changes every bin the re-run plans, so a target the
    # crash left behind cannot be overwritten by its own re-run
    _batch(spark, lake, 9)

    compact_lake(spark, root)

    for fmt in FORMATS:
        msgs = _messages(spark, lake, fmt)
        assert sum(msgs.values()) == 20 and set(msgs.values()) == {1}, fmt
        assert set(msgs) == set(before[fmt]) | {f"qa-b9-{i}" for i in range(5)}, fmt
    assert not _manifests(root)
    files = _files(root)
    assert compact_lake(spark, root) == 0
    assert _files(root) == files


def test_compact_crash_before_publish_rolls_back(spark, tmp_path, monkeypatch):
    """Crash after the claim, before any target is published: the
    replay retires the manifests and compacts the untouched sources."""

    def crash_rewrite(*args):
        raise Crash("before publish")

    def crashed_state(root, lake):
        assert len(_manifests(root)) == 2
        assert {fmt: len(_names(root, fmt)) for fmt in FORMATS} == {"parquet": 3, "arrow": 3}

    _crash_then_converge(
        spark, tmp_path, monkeypatch,
        lambda root: monkeypatch.setattr(cmod, "_rewrite_bins", crash_rewrite),
        crashed_state,
    )


def test_compact_crash_after_some_targets_published(spark, tmp_path, monkeypatch):
    """Crash while the rewrite job runs: the Parquet bin's target is
    published, the Arrow bin's is not, and no published record exists.
    The replay deletes the published target instead of keeping it next
    to its sources."""
    real = cmod._rewrite_bins

    def crash_midway(spark_, lake, claims):
        real(spark_, lake, claims)
        for name in _names(lake.base, "arrow"):
            if "/part-compact-" in name:
                os.remove(os.path.join(lake.base, name))
        raise Crash("midway through the rewrite job")

    def crashed_state(root, lake):
        assert len(_manifests(root)) == 2
        assert len(_names(root, "parquet")) == 4  # 3 sources + 1 target
        assert lake.read(spark, "parquet").count() == 30  # the duplicate window

    _crash_then_converge(
        spark, tmp_path, monkeypatch,
        lambda root: monkeypatch.setattr(cmod, "_rewrite_bins", crash_midway),
        crashed_state,
    )


def _crash_on_delete(monkeypatch, when):
    real = cmod._delete
    calls = []

    def delete(lake, rel, name):
        calls.append(name)
        if when(name, len(calls)):
            raise Crash(f"deleting {name}")
        real(lake, rel, name)

    monkeypatch.setattr(cmod, "_delete", delete)


def test_compact_crash_between_publish_and_delete_replays(spark, tmp_path, monkeypatch):
    """Crash after the published record, before the first source delete:
    readers see every row twice, and the replay deletes the sources."""

    def crashed_state(root, lake):
        assert {fmt: lake.read(spark, fmt).count() for fmt in FORMATS} == {"parquet": 30, "arrow": 30}

    _crash_then_converge(
        spark, tmp_path, monkeypatch,
        lambda root: _crash_on_delete(monkeypatch, lambda name, n: n == 1),
        crashed_state,
    )


def test_compact_crash_mid_source_delete_does_not_duplicate(spark, tmp_path, monkeypatch):
    """Crash after two of a bin's three sources are deleted: the replay
    takes the bin's membership from the manifest and never re-bins the
    surviving source next to the published target."""

    def crashed_state(root, lake):
        (first,) = [fmt for fmt in FORMATS if len(_names(root, fmt)) == 2]  # target + 1 source
        assert lake.read(spark, first).count() == 15 + 5

    _crash_then_converge(
        spark, tmp_path, monkeypatch,
        lambda root: _crash_on_delete(monkeypatch, lambda name, n: n == 3),
        crashed_state,
    )


def test_compact_crash_before_manifest_retired(spark, tmp_path, monkeypatch):
    """Crash after a bin's sources are deleted, before its manifest is:
    the replay retires that manifest and rolls back the other bin, whose
    target was published without a record."""

    def crashed_state(root, lake):
        assert len(_manifests(root)) == 2
        assert sorted(len(_names(root, fmt)) for fmt in FORMATS) == [1, 4]

    _crash_then_converge(
        spark, tmp_path, monkeypatch,
        lambda root: _crash_on_delete(monkeypatch, lambda name, n: name.startswith(".compact-")),
        crashed_state,
    )


def test_replay_refuses_a_torn_published_target(spark, tmp_path, monkeypatch):
    """A published record whose target no longer has its recorded
    length stops the replay before any source is deleted."""
    root = str(tmp_path / "lake")
    _lake(spark, root)
    _crash_on_delete(monkeypatch, lambda name, n: n == 1)
    with pytest.raises(Crash):
        compact_lake(spark, root)
    monkeypatch.undo()
    # the Parquet bin is finished first: its record is written
    (target,) = [p for p in _names(root, "parquet") if "/part-compact-" in p]
    with open(os.path.join(root, target), "ab") as fh:
        fh.write(b"\0")
    sources = [p for p in _names(root, "parquet") if "/part-compact-" not in p]
    assert len(sources) == 3
    with pytest.raises(RuntimeError, match="missing or torn"):
        compact_lake(spark, root)
    assert set(sources) <= set(_names(root, "parquet"))

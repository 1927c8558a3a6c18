"""Delta-format lake option: import-safety and gating contract.

This environment has no delta-spark (and no network to fetch its jars),
so the execution path cannot run here; the module documents the
parquet-LogLake + compact_lake substitution. These tests pin what CAN
be checked everywhere: the module imports cleanly, constructs, raises
a clear error on use without delta-spark, and the session builder
refuses rather than producing a half-configured session.
"""

from __future__ import annotations

import pytest

from kubernetes_logs_datalake_spark.sources.delta_lake import (
    DeltaLogLake,
    delta_available,
    delta_session_builder,
)


def _records(spark, n=20, tag="d"):
    from kubernetes_logs_datalake_spark.sources import parse_cri_lines

    raw = spark.createDataFrame(
        [
            (
                "/var/log/pods/qa_p_u/app/0.log",
                f"2024-01-15T10:30:{i:02d}.0Z stdout F {tag}-{i}",
            )
            for i in range(n)
        ],
        ["path", "value"],
    )
    return parse_cri_lines(raw, path_col="path", cluster="c")


def test_lake_roundtrip_and_compaction_contract(spark, tmp_path):
    """ONE storage contract, whichever table format is available: two
    appended batches stay fully readable before and after compaction.
    With delta-spark installed this runs DeltaLogLake + OPTIMIZE; in
    this sandbox (no delta-spark, no network for jars) it runs the
    module's documented substitution — parquet LogLake +
    sources.compact.compact_lake — so the delta surface's behavioral
    contract is exercised on every run rather than permanently skipped."""
    if delta_available():  # pragma: no cover - env-dependent
        lake = DeltaLogLake(str(tmp_path / "dlake"))
        lake.write_batch(_records(spark, 20, "a"))
        lake.write_batch(_records(spark, 10, "b"))
        assert lake.read(spark).count() == 30
        lake.compact(spark)
        assert lake.read(spark).count() == 30
    else:
        from kubernetes_logs_datalake_spark.sources.compact import compact_lake
        from kubernetes_logs_datalake_spark.sources.logs import LogLake

        root = str(tmp_path / "plake")
        lake = LogLake(root)
        lake.write_batch(_records(spark, 20, "a"))
        lake.write_batch(_records(spark, 10, "b"))
        assert lake.read(spark).count() == 30
        compact_lake(spark, root, min_files=2)
        assert lake.read(spark).count() == 30


def test_substitution_concurrent_append_survives_compaction(
    spark, tmp_path, monkeypatch
):
    """Commit-log semantic #1 the substitution must honor: a writer
    appending WHILE compaction runs loses nothing. Delta gets this
    from optimistic concurrency on the log; the parquet path gets it
    from snapshot discipline (read and delete EXACTLY the snapshot
    listing). Injected at the seam: the listing hook appends a batch
    AFTER the snapshot is taken but BEFORE any rewrite/delete — the
    worst-case interleaving — and the appended rows must survive."""
    from kubernetes_logs_datalake_spark.sources import compact as cmp
    from kubernetes_logs_datalake_spark.sources.logs import LogLake

    root = str(tmp_path / "plake")
    lake = LogLake(root)
    lake.write_batch(_records(spark, 20, "a"))
    lake.write_batch(_records(spark, 10, "b"))
    assert lake.read(spark).count() == 30

    real_listing = cmp._listing
    fired = {"n": 0}

    def listing_then_append(*args):
        out = real_listing(*args)
        if fired["n"] == 0:  # only the snapshot call, not the published-target one
            fired["n"] += 1
            lake.write_batch(_records(spark, 5, "mid"))
        return out

    monkeypatch.setattr(cmp, "_listing", listing_then_append)
    cmp.compact_lake(spark, root, min_files=2)
    assert fired["n"] == 1
    df = lake.read(spark)
    assert df.count() == 35  # 30 compacted + 5 appended mid-compaction
    assert df.filter(df.message.startswith("mid-")).count() == 5


def test_substitution_compaction_replay_is_idempotent(spark, tmp_path):
    """Commit-log semantic #2: replaying compaction (the at-least-once
    re-run after a crash or a duplicate scheduler fire) converges —
    same rows, and the second run finds nothing above min_files to
    rewrite, so the file set is stable."""
    import glob as globmod

    from kubernetes_logs_datalake_spark.sources.compact import compact_lake
    from kubernetes_logs_datalake_spark.sources.logs import LogLake

    root = str(tmp_path / "plake2")
    lake = LogLake(root)
    lake.write_batch(_records(spark, 20, "a"))
    lake.write_batch(_records(spark, 10, "b"))
    compact_lake(spark, root, min_files=2)
    rows = sorted(r.message for r in lake.read(spark).collect())
    files = sorted(globmod.glob(f"{root}/**/*.parquet", recursive=True))

    compact_lake(spark, root, min_files=2)  # replay
    assert sorted(r.message for r in lake.read(spark).collect()) == rows
    assert sorted(globmod.glob(f"{root}/**/*.parquet", recursive=True)) == files


def test_delta_unavailable_is_import_safe():
    """Even without delta-spark the module imports and the lake object
    constructs; only use raises, with a clear message."""
    lake = DeltaLogLake("/tmp/never")
    if not delta_available():  # pragma: no cover - env-dependent
        with pytest.raises(ImportError, match="delta-spark"):
            lake.read(None)
        with pytest.raises(ImportError, match="delta-spark"):
            lake.compact(None)


def test_delta_session_builder_gates_clearly():
    if delta_available():  # pragma: no cover - env-dependent
        pytest.skip("delta-spark installed; builder path exercised elsewhere")
    from pyspark.sql import SparkSession

    with pytest.raises(ImportError, match="delta-spark"):
        delta_session_builder(SparkSession.builder)


def test_delta_lake_mirrors_parquet_lake_surface():
    """The documented substitution is mechanical: every public method of
    DeltaLogLake has a parquet-path equivalent with compatible intent.
    Pin the surface so a refactor can't silently break the mapping."""
    from kubernetes_logs_datalake_spark.sources.logs import LogLake

    assert {"write_batch", "read", "read_stream"} <= set(dir(LogLake))
    assert {"write_batch", "read", "read_stream", "compact", "vacuum"} <= set(
        dir(DeltaLogLake)
    )


def test_substitution_reader_visibility_during_compaction(
    spark, tmp_path, monkeypatch
):
    """Commit-log semantic #3: a reader at every phase of the
    substitution's compaction sees EVERY row at least once. Delta gets
    this from snapshot isolation on the log; the parquet path gets it
    from publish-then-delete ordering — the only transient anomaly is
    duplication inside the publish window, never loss and never a torn
    file. Probed deterministically: (a) at both listing seams (the
    snapshot and the listing of the published targets — i.e. before the
    rewrite and after the compacted files exist but before any delete),
    and (b) in the reconstructed publish-window state itself (compacted
    files live NEXT TO all their sources)."""
    import glob as globmod
    import shutil

    from kubernetes_logs_datalake_spark.sources import compact as cmp
    from kubernetes_logs_datalake_spark.sources.logs import LogLake

    root = str(tmp_path / "plake3")
    lake = LogLake(root)
    lake.write_batch(_records(spark, 20, "a"))
    lake.write_batch(_records(spark, 10, "b"))
    full = {r.message for r in lake.read(spark).collect()}
    assert len(full) == 30
    small_files = sorted(globmod.glob(f"{root}/**/*.parquet", recursive=True))
    backup = tmp_path / "backup"
    backup.mkdir()
    for i, f in enumerate(small_files):
        shutil.copy2(f, backup / f"{i}__{f.replace('/', '%')}")

    seen: list[set] = []
    real_listing = cmp._listing

    def listing_probe(*args):
        out = real_listing(*args)
        seen.append({row.message for row in lake.read(spark).collect()})
        return out

    monkeypatch.setattr(cmp, "_listing", listing_probe)
    cmp.compact_lake(spark, root, min_files=2)
    monkeypatch.undo()

    # (a) both in-flight listing probes saw the complete row set
    assert len(seen) == 2  # snapshot listing + published-target listing
    assert all(msgs == full for msgs in seen)
    assert {r.message for r in lake.read(spark).collect()} == full

    # (b) rebuild the worst-case publish-window state byte-for-byte:
    # compacted files present AND every source restored beside them
    for i, f in enumerate(small_files):
        shutil.copy2(backup / f"{i}__{f.replace('/', '%')}", f)
    df = lake.read(spark)
    assert {r.message for r in df.collect()} == full  # nothing missing
    assert df.count() == 60  # every row exactly twice — dup, never loss

    # and the substitution's own replay converges back out of it: the
    # restored sources form the same bin again, whose targets (named
    # from their sources) are rewritten in place
    cmp.compact_lake(spark, root, min_files=2)
    after = lake.read(spark)
    assert {r.message for r in after.collect()} == full

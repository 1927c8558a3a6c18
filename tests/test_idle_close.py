"""Idle-close stateful operator (T4 close-write semantics): a container
key with no new lines for the idle window emits exactly one close event
with its line count and last event time."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.sources.cri import parse_cri_lines
from kubernetes_logs_datalake_spark.streaming.idle_close import closed_sessions

# reference contract: logs are queryable at most 30 s after the last write
CLOSE_WRITE_CEILING_S = 30


def test_idle_close_emits_after_quiet_period(spark, tmp_path):
    base = str(tmp_path)
    d = os.path.join(base, "var/log/pods/qa_app-1_u/app")
    os.makedirs(d)
    with open(os.path.join(d, "0.log"), "w") as f:
        f.write(
            "2024-01-15T10:30:00.0Z stdout F a\n"
            "2024-01-15T10:30:01.5Z stdout F b\n"
            "2024-01-15T10:30:02.0Z stderr F c\n"
        )

    stream = parse_cri_lines(
        spark.readStream.format("text")
        .option("recursiveFileLookup", "true")
        .load(base)
        .withColumn("path", F.input_file_name()),
        path_col="path",
        cluster="dev",
    )
    q = (
        closed_sessions(stream, idle_seconds=2)
        .writeStream.format("memory")
        .queryName("idle_close_t")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            assert q.exception() is None, q.exception()
            rows = spark.sql("SELECT * FROM idle_close_t").collect()
            if rows:
                break
            time.sleep(1)
        assert len(rows) == 1, f"expected one close event, got {rows}"
        r = rows[0]
        assert (r.namespace, r.pod, r.container) == ("qa", "app-1", "app")
        assert r.n_lines == 3
        assert r.last_time_ns == 1705314602000000000
        # quiet period continues → no further events (state removed)
        time.sleep(4)
        assert spark.sql("SELECT count(*) c FROM idle_close_t").first().c == 1
    finally:
        q.stop()


def _max_batch_seconds(q) -> float:
    """Max observed microbatch wall duration (s) across the query's
    recent progress — the actual batch cadence on THIS box under THIS
    load, as opposed to the configured trigger interval."""
    durs = [
        p["durationMs"]["triggerExecution"]
        for p in (q.recentProgress or [])
        if p.get("durationMs", {}).get("triggerExecution") is not None
    ]
    return max(durs) / 1000.0 if durs else 0.0


def test_close_write_latency_bound(spark, tmp_path):
    """TIMED close-write visibility (the reference asserts last-write →
    queryable ≤ 30 s, test.sh:592-618): with idle=2 s and a 1 s
    trigger, the close event must be VISIBLE in the sink within
    idle + trigger + grace. The grace is LOAD-ROBUST: it is the larger
    of a fixed local-mode allowance (file-source listing + microbatch
    scheduling; measured ~3-6 s on an idle local[32]) and 4× the worst
    microbatch wall duration actually observed during the run — on a
    loaded box where one batch takes 18 s, close-event visibility is
    mechanically gated on ~3 batch turnarounds, so asserting an
    absolute 15 s would test the box, not the code. The bound stays a
    real contract: visibility within a small constant number of batch
    turnarounds after the idle window. The stream is warmed up BEFORE
    the write so startup cost doesn't pollute the latency being
    asserted — this is the wall-clock contract, not the state-machine
    logic (the hypothesis suite below covers that)."""
    import uuid

    base = str(tmp_path)
    d = os.path.join(base, "var/log/pods/qa_app-2_u/app")
    os.makedirs(d)
    name = f"idle_lat_{uuid.uuid4().hex[:8]}"
    idle_seconds, trigger_seconds, grace_seconds = 2, 1, 12

    stream = parse_cri_lines(
        spark.readStream.format("text")
        .option("recursiveFileLookup", "true")
        .load(base)
        .withColumn("path", F.input_file_name()),
        path_col="path",
        cluster="dev",
    )
    q = (
        closed_sessions(stream, idle_seconds=idle_seconds)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
    try:
        # warm-up: let the (empty-directory) stream run a few batches
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(
                p.get("numInputRows") is not None
                for p in ([q.lastProgress] if q.lastProgress else [])
            ):
                break
            time.sleep(0.5)

        with open(os.path.join(d, "0.log"), "w") as f:
            f.write("2024-01-15T10:30:00.0Z stdout F hello\n")
        t_write = time.time()

        visible_at = None
        deadline = time.time() + 150
        while time.time() < deadline:
            assert q.exception() is None, q.exception()
            if spark.sql(f"SELECT count(*) c FROM {name}").first().c:
                visible_at = time.time()
                break
            time.sleep(0.2)
        assert visible_at is not None, "close event never became visible"
        elapsed = visible_at - t_write
        observed_batch_s = _max_batch_seconds(q)
        grace_eff = max(grace_seconds, 4.0 * observed_batch_s)
        bound = idle_seconds + trigger_seconds + grace_eff
        assert elapsed <= bound, (
            f"close-write latency {elapsed:.1f}s exceeds "
            f"{bound:.1f}s (idle {idle_seconds} + trigger {trigger_seconds}"
            f" + grace max({grace_seconds}, 4×{observed_batch_s:.1f}s "
            f"worst observed microbatch))"
        )
        # the reference's contract is absolute: queryable within 30 s of
        # the last write, however slow the batches are
        assert elapsed <= CLOSE_WRITE_CEILING_S, (
            f"close-write latency {elapsed:.1f}s exceeds the "
            f"{CLOSE_WRITE_CEILING_S}s last-write→queryable ceiling"
        )
        # and not before the idle window elapsed (timeout semantics)
        assert elapsed >= idle_seconds - 0.5, (
            f"close event at {elapsed:.1f}s, before the {idle_seconds}s "
            f"idle window could have expired"
        )
    finally:
        q.stop()


# ---------------------------------------------------------------------
# Property tests of the T4 state machine itself (reference test.sh
# asserts these semantics with wall-clock timing windows, 7l/543-619;
# here the transition function is driven directly so hypothesis can
# sweep event orderings and batch splits across the idle boundary
# without paying a streaming query per example).

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from kubernetes_logs_datalake_spark.streaming.idle_close import _close_fn


class FakeState:
    """Minimal GroupState stand-in: exists/get/update/remove +
    hasTimedOut flag + timeout-renewal recording."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.renewals = 0

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self.renewals += 1


KEY = ("ns", "pod", "ctr")


def _feed(fn, state, batches):
    """Run one micro-batch with data; returns emitted rows."""
    pdfs = [pd.DataFrame({"time_ns": b}) for b in batches]
    return list(fn(KEY, iter(pdfs), state))


def _fire_timeout(fn, state):
    state.hasTimedOut = True
    out = list(fn(KEY, iter([]), state))
    state.hasTimedOut = False
    return pd.concat(out) if out else pd.DataFrame()


@settings(max_examples=60, deadline=None)
@given(
    ns=st.lists(st.integers(min_value=1, max_value=2**62), min_size=1,
                max_size=30),
    splits=st.data(),
)
def test_close_event_invariant_under_any_batching(ns, splits):
    """However the same events are split into pandas chunks and
    micro-batches, the close event reports (total count, max ns) and
    the state dies with it."""
    fn = _close_fn(30_000)
    state = FakeState()
    # partition ns into 1..4 micro-batches, each into 1..3 chunks
    remaining = list(ns)
    n_micro = splits.draw(st.integers(1, min(4, len(ns))))
    bounds = sorted(
        splits.draw(
            st.lists(st.integers(0, len(ns)), min_size=n_micro - 1,
                     max_size=n_micro - 1)
        )
    )
    micro = []
    prev = 0
    for b in [*bounds, len(ns)]:
        micro.append(remaining[prev:b])
        prev = b
    for batch in micro:
        chunks = [batch] if len(batch) < 2 else [
            batch[: len(batch) // 2], batch[len(batch) // 2:]
        ]
        _feed(fn, state, chunks)
    renewals_before = state.renewals
    closed = _fire_timeout(fn, state)
    assert len(closed) == 1
    assert closed.iloc[0]["n_lines"] == len(ns)
    assert closed.iloc[0]["last_time_ns"] == max(ns)
    assert not state.exists, "state must be dropped with the close event"
    # the timeout path must NOT renew the timer of a dead key
    assert state.renewals == renewals_before
    # every data micro-batch renewed the timeout exactly once
    assert renewals_before == len(micro)


@settings(max_examples=40, deadline=None)
@given(
    before=st.lists(st.integers(min_value=1, max_value=10**6), min_size=1,
                    max_size=10),
    after=st.lists(st.integers(min_value=1, max_value=10**6), min_size=1,
                   max_size=10),
)
def test_reopen_after_close_starts_fresh_session(before, after):
    """Events arriving after a close (container restarted / log rotated
    back in) must open a NEW session that counts only its own lines —
    the boundary-crossing case the reference asserts by timing."""
    fn = _close_fn(30_000)
    state = FakeState()
    _feed(fn, state, [before])
    first = _fire_timeout(fn, state)
    assert first.iloc[0]["n_lines"] == len(before)
    # boundary crossed: new lines for the same key
    _feed(fn, state, [after])
    second = _fire_timeout(fn, state)
    assert second.iloc[0]["n_lines"] == len(after)
    assert second.iloc[0]["last_time_ns"] == max(after)


def test_empty_chunk_does_not_corrupt_state():
    """A micro-batch whose pandas iterator yields an empty chunk (Spark
    does this) neither bumps the count nor regresses last_time_ns."""
    fn = _close_fn(30_000)
    state = FakeState()
    _feed(fn, state, [[5, 9]])
    _feed(fn, state, [[]])
    assert state.get == (2, 9)
    closed = _fire_timeout(fn, state)
    assert closed.iloc[0]["n_lines"] == 2
    assert closed.iloc[0]["last_time_ns"] == 9


def test_close_write_latency_bound_many_keys(spark, tmp_path):
    """25 container keys go idle TOGETHER (the reference's 50-buffer
    SIGTERM shape, test.sh:482-541: every buffer flushed and visible on
    shutdown): every key's close event must land within the same
    idle + trigger + grace bound — per-key timer state must not
    serialize closes across keys. Grace is wider than the single-key
    test only for the file-source listing of 25 files, not per-key."""
    import uuid

    base = str(tmp_path)
    n_keys = 25
    dirs = []
    for i in range(n_keys):
        d = os.path.join(base, f"var/log/pods/qa_app-m{i}_u/app")
        os.makedirs(d)
        dirs.append(d)
    name = f"idle_lat_many_{uuid.uuid4().hex[:8]}"
    idle_seconds, trigger_seconds, grace_seconds = 2, 1, 18

    stream = parse_cri_lines(
        spark.readStream.format("text")
        .option("recursiveFileLookup", "true")
        .load(base)
        .withColumn("path", F.input_file_name()),
        path_col="path",
        cluster="dev",
    )
    q = (
        closed_sessions(stream, idle_seconds=idle_seconds)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress.get("numInputRows") is not None:
                break
            time.sleep(0.5)

        for i, d in enumerate(dirs):
            with open(os.path.join(d, "0.log"), "w") as f:
                f.write(
                    f"2024-01-15T10:30:00.{i:03d}Z stdout F line-from-{i}\n"
                )
        t_write = time.time()

        all_visible_at = None
        deadline = time.time() + 180
        while time.time() < deadline:
            assert q.exception() is None, q.exception()
            c = spark.sql(f"SELECT count(*) c FROM {name}").first().c
            if c >= n_keys:
                all_visible_at = time.time()
                break
            time.sleep(0.2)
        assert all_visible_at is not None, (
            f"only {spark.sql(f'SELECT count(*) c FROM {name}').first().c}"
            f"/{n_keys} close events became visible"
        )
        elapsed = all_visible_at - t_write
        observed_batch_s = _max_batch_seconds(q)
        grace_eff = max(grace_seconds, 4.0 * observed_batch_s)
        bound = idle_seconds + trigger_seconds + grace_eff
        assert elapsed <= bound, (
            f"last of {n_keys} close events at {elapsed:.1f}s exceeds "
            f"{bound:.1f}s bound (grace max({grace_seconds}, "
            f"4×{observed_batch_s:.1f}s worst observed microbatch))"
        )
        assert elapsed <= CLOSE_WRITE_CEILING_S, (
            f"last of {n_keys} close events at {elapsed:.1f}s exceeds the "
            f"{CLOSE_WRITE_CEILING_S}s last-write→queryable ceiling"
        )
        rows = spark.sql(f"SELECT pod, n_lines FROM {name}").collect()
        assert sorted(r.pod for r in rows) == sorted(
            f"app-m{i}" for i in range(n_keys)
        )
        assert all(r.n_lines == 1 for r in rows)
    finally:
        q.stop()

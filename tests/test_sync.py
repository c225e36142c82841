"""Incremental sync loop tests (T1-T4, §3.3): watermark negotiation,
lag/batch clamps, destination-derived commit, failure self-healing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.sources.io import read_any
from dataengineering_spark.streaming.runner import IncrementalSyncRunner, SyncConfig
from dataengineering_spark.streaming.state import (
    SyncState,
    SyncStateStore,
    TableSyncStateStore,
)
from tests.conftest import SF_SMOKE


@pytest.fixture
def events(spark):
    return read_table(spark, "events", SF_SMOKE).withColumnRenamed(
        "event_id", "block"
    )


def make_runner(spark, tmp_path, **cfg):
    store = SyncStateStore(str(tmp_path / "state"))
    config = SyncConfig(stream="events", **cfg)
    return IncrementalSyncRunner(spark, store, config), store


def dest_tools(spark, tmp_path):
    dest = str(tmp_path / "dest")

    def sink(df):
        df.write.mode("append").parquet(dest)

    def dest_max():
        try:
            row = read_any(spark, dest).agg(F.max("block").alias("m")).collect()[0]
            return row.m
        except Exception:
            return None

    return dest, sink, dest_max


def memory_dest():
    """In-memory destination: every synced block, in sink order."""
    seen: list[int] = []

    def sink(df):
        seen.extend(r.block for r in df.collect())

    def dest_max():
        return max(seen) if seen else None

    return seen, sink, dest_max


def count_probes(runner, monkeypatch, head=None):
    """Count _probe_head calls; ``head`` optionally replaces the probe."""
    calls: list[int] = []
    probe = head or runner._probe_head

    def counted(source):
        calls.append(1)
        return probe(source)

    monkeypatch.setattr(runner, "_probe_head", counted)
    return calls


def test_state_store_roundtrip(tmp_path):
    store = SyncStateStore(str(tmp_path))
    assert store.get("s").last_synced_block == -1  # initial sentinel
    store.commit("s", SyncState(10, "2024-01-01", 12, "2024-01-01"))
    store.commit("s", SyncState(20, "2024-01-02", 22, "2024-01-02"))
    assert store.get("s").last_synced_block == 20
    assert [s.last_synced_block for s in store.history("s")] == [10, 20]


def test_gate_short_circuits_when_caught_up(spark, tmp_path, events):
    runner, store = make_runner(spark, tmp_path, batch_size=10**9)
    head = events.agg(F.max("block")).collect()[0][0]
    store.commit("events", SyncState(head, "x", head, "x"))
    rng = runner.check_sync_status(events)
    assert not rng.should_run  # latest == last_synced → no-op


def test_streaming_lag_holds_back_head(spark, tmp_path, events):
    runner, _ = make_runner(spark, tmp_path, batch_size=10**9, streaming_lag=100)
    head = events.agg(F.max("block")).collect()[0][0]
    rng = runner.check_sync_status(events)
    assert rng.latest == head - 100


def test_batch_size_clamps_range(spark, tmp_path, events):
    runner, _ = make_runner(spark, tmp_path, batch_size=500)
    rng = runner.check_sync_status(events)
    assert rng.latest == -1 + 500


def test_run_to_head_drains_in_batches(spark, tmp_path, events):
    runner, store = make_runner(spark, tmp_path, batch_size=400)
    _, sink, dest_max = dest_tools(spark, tmp_path)
    small = events.filter(F.col("block") < 1000)
    ranges = runner.run_to_head(small, lambda d: d, sink, dest_max)
    assert len(ranges) == 3  # 1000 rows / 400 per batch
    assert store.get("events").last_synced_block == 999
    dest = read_any(spark, str(tmp_path / "dest"))
    assert dest.count() == 1000
    assert dest.select("block").distinct().count() == 1000  # no dupes


def test_drain_probes_head_once_plus_final_gate(spark, tmp_path, monkeypatch):
    """The head is drain-scoped: batch 1 probes it, batches 2-3 reuse
    it, and one probe at the head closes the drain."""
    runner, _ = make_runner(spark, tmp_path, batch_size=100)
    probes = count_probes(runner, monkeypatch)
    seen, sink, dest_max = memory_dest()
    src = spark.range(300).select(F.col("id").alias("block"))
    ranges = runner.run_to_head(src, lambda d: d, sink, dest_max)
    assert [(r.last_synced, r.latest) for r in ranges] == [(-1, 99), (99, 199), (199, 299)]
    assert len(probes) == 2
    assert sorted(seen) == list(range(300))


def test_drain_follows_head_that_moved(spark, tmp_path, monkeypatch):
    """A probe that finds the head moved once the first head is
    reached keeps the drain going to the new head."""
    runner, store = make_runner(spark, tmp_path, batch_size=50, streaming_lag=10)

    def moving_head(source):
        return 159 if store.get("events").last_synced_block < 149 else 309

    probes = count_probes(runner, monkeypatch, moving_head)
    seen, sink, dest_max = memory_dest()
    src = spark.range(310).select(F.col("id").alias("block"))
    ranges = runner.run_to_head(src, lambda d: d, sink, dest_max)
    assert [r.latest for r in ranges] == [49, 99, 149, 199, 249, 299]
    assert len(probes) == 3  # first batch, first head reached, final gate
    assert sorted(seen) == list(range(300))


def test_probes_every_call_outside_a_drain(spark, tmp_path, monkeypatch):
    """run_once and lag_gauge outside run_to_head stay live: one probe
    per call, also after a drain has ended."""
    runner, _ = make_runner(spark, tmp_path, batch_size=100)
    probes = count_probes(runner, monkeypatch)
    _, sink, dest_max = memory_dest()
    src = spark.range(500).select(F.col("id").alias("block"))
    runner.run_once(src, lambda d: d, sink, dest_max)
    runner.run_once(src, lambda d: d, sink, dest_max)
    runner.lag_gauge(src)
    assert len(probes) == 3
    runner.run_to_head(src, lambda d: d, sink, dest_max, max_batches=1)
    runner.run_once(src, lambda d: d, sink, dest_max)
    runner.run_once(src, lambda d: d, sink, dest_max)
    assert len(probes) == 6


def test_run_to_head_raises_on_stalled_batch(spark, tmp_path):
    """A batch that lands nothing leaves the watermark where it was;
    the drain names the stuck range instead of re-running it until
    max_batches."""
    runner, store = make_runner(spark, tmp_path, batch_size=100)
    seen, sink, dest_max = memory_dest()
    calls = {"n": 0}

    def counting_sink(df):
        calls["n"] += 1
        sink(df)

    src = spark.range(100).union(spark.range(500, 600)).select(F.col("id").alias("block"))
    with pytest.raises(RuntimeError, match=r"\(99, 199\]"):
        runner.run_to_head(src, lambda d: d, counting_sink, dest_max, max_batches=12)
    assert calls["n"] == 2  # (-1, 99] then the empty (99, 199] once
    assert store.get("events").last_synced_block == 99
    assert sorted(seen) == list(range(100))


def test_commit_from_destination_self_heals(spark, tmp_path, events):
    """T3: a batch that fails mid-write commits only what landed; the
    next run re-covers the gap from the destination's real max."""
    runner, store = make_runner(spark, tmp_path, batch_size=600)
    _, sink, dest_max = dest_tools(spark, tmp_path)
    small = events.filter(F.col("block") < 1000)

    calls = {"n": 0}

    def flaky_sink(df):
        calls["n"] += 1
        if calls["n"] == 1:
            # write only half the range, then die — simulates a
            # mid-write crash with a partially durable batch
            df.filter(F.col("block") < 300).write.mode("append").parquet(
                str(tmp_path / "dest")
            )
            raise RuntimeError("sink died mid-batch")
        sink(df)

    with pytest.raises(RuntimeError):
        runner.run_once(small, lambda d: d, flaky_sink, dest_max)
    # crash before commit → state still initial
    assert store.get("events").last_synced_block == -1
    # but destination holds blocks < 300; re-deriving the watermark
    # from the destination resumes from 299, not -1 and not 599
    runner.commit_from_destination(dest_max)
    assert store.get("events").last_synced_block == 299

    ranges = runner.run_to_head(small, lambda d: d, flaky_sink, dest_max)
    assert ranges  # drained the rest
    dest = read_any(spark, str(tmp_path / "dest"))
    assert dest.count() == 1000
    assert dest.select("block").distinct().count() == 1000


def test_range_predicate_pushdown(spark, tmp_path, events):
    """The half-open range filter must reach the parquet scan."""
    runner, _ = make_runner(spark, tmp_path, batch_size=500)
    rng = runner.check_sync_status(events)
    batch = runner.select_range(events, rng)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThan" in plan and "LessThanOrEqual" in plan


def test_table_state_store_roundtrip_and_current(spark, tmp_path):
    """TableSyncStateStore: per-stream versioning, queryable current()
    across streams, history preserved."""
    store = TableSyncStateStore(spark, str(tmp_path / "offsets"))
    assert store.get("eth") == SyncState.initial()
    s1 = SyncState(100, "2024-01-01", 150, "2024-01-02")
    s2 = SyncState(150, "2024-01-02", 200, "2024-01-03")
    assert store.commit("eth", s1) == 0
    assert store.commit("eth", s2) == 1
    assert store.commit("btc", s1) == 0
    assert store.get("eth") == s2
    assert store.get("btc") == s1
    cur = {
        r.stream: (r.version, r.last_synced_block)
        for r in store.current().collect()
    }
    assert cur == {"eth": (1, 150), "btc": (0, 100)}
    assert store.history("eth") == [s1, s2]
    assert store.snapshot().count() == 3


def test_table_state_store_commit_race_retries(spark, tmp_path):
    """Optimistic concurrency: when the target version file already
    exists (a racing committer won), commit retries at the next
    version instead of overwriting."""
    store = TableSyncStateStore(spark, str(tmp_path / "offsets"))
    s1 = SyncState(1, "2024-01-01", 2, "2024-01-01")
    store.commit("eth", s1)
    # simulate a racer that already published version 1
    racer = TableSyncStateStore(spark, str(tmp_path / "offsets"))
    racer.commit("eth", SyncState(2, "2024-01-02", 3, "2024-01-02"))
    v = store.commit("eth", SyncState(3, "2024-01-03", 4, "2024-01-03"))
    assert v == 2
    assert store.get("eth").last_synced_block == 3
    assert [s.last_synced_block for s in store.history("eth")] == [1, 2, 3]


def test_table_state_store_prefix_stream_names(spark, tmp_path):
    """A stream whose name extends another's must not corrupt the
    shorter stream's version sequence."""
    store = TableSyncStateStore(spark, str(tmp_path / "offsets"))
    s = SyncState(1, "2024-01-01", 2, "2024-01-01")
    store.commit("a", s)
    store.commit("a-b", s)
    store.commit("a-b", SyncState(5, "2024-01-02", 6, "2024-01-02"))
    assert store.get("a") == s
    assert store.get("a-b").last_synced_block == 5
    assert len(store.history("a")) == 1


def test_lag_gauge_tracks_drain(spark, tmp_path, events):
    """The metrics gauge reports the true backlog before, during, and
    after a drain — the reportLatestOffset-style lag surface."""
    runner, store = make_runner(spark, tmp_path, batch_size=400)
    _, sink, dest_max = dest_tools(spark, tmp_path)
    small = events.filter(F.col("block") < 1000)

    g0 = runner.lag_gauge(small).collect()[0]
    assert g0.stream == "events"
    assert g0.head == 999
    assert g0.lag_blocks == 1000  # from the -1 sentinel to block 999
    assert g0.backlog_batches == 3

    runner.run_once(small, lambda d: d, sink, dest_max)
    g1 = runner.lag_gauge(small).collect()[0]
    assert g1.last_synced == 399
    assert g1.lag_blocks == 600
    assert g1.backlog_batches == 2

    runner.run_to_head(small, lambda d: d, sink, dest_max)
    g2 = runner.lag_gauge(small).collect()[0]
    assert g2.lag_blocks == 0
    assert g2.backlog_batches == 0


def test_lag_gauge_respects_streaming_lag(spark, tmp_path, events):
    runner, _ = make_runner(spark, tmp_path, batch_size=10**9, streaming_lag=100)
    head = events.agg(F.max("block")).collect()[0][0]
    g = runner.lag_gauge(events).collect()[0]
    assert g.effective_head == head - 100
    assert g.lag_blocks == (head - 100) - (-1)

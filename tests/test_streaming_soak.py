"""Long-run soak for the rate-limited block-range source: 50 clamped
microbatches with a mid-run kill + resume, asserting exactly-once block
coverage from the committed cursor (VERDICT r5 #8).

The sink is the documented idempotent foreachBatch pattern (one file
per block range, overwritten on replay), so an uncommitted batch
replayed after the kill cannot double-count — coverage is then provable
as set equality over the landed ranges.
"""

from __future__ import annotations

import glob
import os
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dataengineering_spark.streaming.rate_limited import (
    _CURSOR_STREAM,
    block_range_stream,
)
from dataengineering_spark.streaming.state import SyncStateStore

import pytest

# Long-horizon fuzz/soak/equivalence suite: excluded from the default
# (driver-budget) pytest run; gates shipping via `make test-slow`.
pytestmark = pytest.mark.slow

N_BLOCKS = 500
PER_TRIGGER = 10  # → exactly 50 clamped ranges end-to-end


def _read_cursor(path: str) -> int:
    return SyncStateStore(path).get(_CURSOR_STREAM).last_synced_block


def test_block_range_soak_50_batches_with_kill_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = tmp_path / "sink"
    sink.mkdir()
    ckpt = str(tmp_path / "ckpt")
    cursor = str(tmp_path / "cursor")
    (
        spark.range(N_BLOCKS)
        .select(F.col("id").alias("block"), (F.col("id") * 3).alias("v"))
        .repartition(4)
        .write.mode("overwrite")
        .parquet(src)
    )

    def sink_fn(df, epoch_id):
        pdf = df.toPandas()
        if pdf.empty:
            return
        lo = int(pdf["block"].min())
        # idempotent per-range file: a replayed batch overwrites itself
        pdf.sort_values("block").to_parquet(sink / f"range_{lo:06d}.parquet")

    def start_query():
        stream = block_range_stream(
            spark,
            src,
            offset_col="block",
            max_offsets_per_trigger=PER_TRIGGER,
            streaming_lag=0,
            start_offset=-1,
            range_splits=2,
            cursor_path=cursor,
        )
        return (
            stream.writeStream.foreachBatch(sink_fn)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    deadline = time.time() + 120

    # --- first run: drain roughly half the backlog, then kill ----------
    q = start_query()
    try:
        while time.time() < deadline and _read_cursor(cursor) < N_BLOCKS // 2:
            time.sleep(0.2)
    finally:
        q.stop()  # mid-run kill: do NOT wait for the backlog to finish
        q.awaitTermination(30)
    committed_at_kill = _read_cursor(cursor)
    assert PER_TRIGGER - 1 <= committed_at_kill < N_BLOCKS - 1, committed_at_kill

    # --- resume from the committed cursor, drain to the head -----------
    # Completion is observed at the SINK (all 50 range files landed):
    # the engine only delivers a batch's source-commit callback when the
    # NEXT batch starts, so once the backlog is drained the cursor
    # legitimately trails the head by one clamp until the next trigger.
    def all_ranges_landed() -> bool:
        return (
            len(glob.glob(str(sink / "range_*.parquet")))
            == N_BLOCKS // PER_TRIGGER
        )

    q2 = start_query()
    try:
        while time.time() < deadline and not all_ranges_landed():
            time.sleep(0.2)
    finally:
        q2.stop()
        q2.awaitTermination(30)
    assert all_ranges_landed(), "resume did not drain the backlog"
    assert _read_cursor(cursor) >= N_BLOCKS - 1 - PER_TRIGGER

    # --- exactly-once coverage ------------------------------------------
    files = sorted(glob.glob(str(sink / "range_*.parquet")))
    assert len(files) == N_BLOCKS // PER_TRIGGER, (len(files), files[:5])
    blocks: list[int] = []
    for f in files:
        t = pq.read_table(f, columns=["block"])
        blocks.extend(t["block"].to_pylist())
    assert len(blocks) == N_BLOCKS, "duplicate or missing blocks in sink"
    assert sorted(blocks) == list(range(N_BLOCKS))
    # every range is exactly one clamp wide and aligned to the clamp grid
    los = [int(os.path.basename(f)[6:12]) for f in files]
    assert los == list(range(0, N_BLOCKS, PER_TRIGGER))
    # blocks past the kill-time committed cursor appeared exactly once
    post_kill = [b for b in blocks if b > committed_at_kill]
    assert len(post_kill) == len(set(post_kill)) == N_BLOCKS - 1 - committed_at_kill

"""Rate-limited streaming source: per-trigger ranges must honor the
reference's clamp (batch_size ≙ maxOffsetsPerTrigger, streaming_lag
held back from head) while draining the backlog completely."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.streaming.rate_limited import block_range_stream

N_BLOCKS = 1000
MAX_PER_TRIGGER = 300
LAG = 50


def _write_blocks(spark, path: str) -> None:
    (
        spark.range(N_BLOCKS)
        .select(
            F.col("id").alias("block"),
            (F.col("id") * 2).alias("value"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .parquet(path)
    )


def _drain(stream, batches: list, timeout_s: int = 120):
    def sink(df, epoch_id):
        rows = df.agg(
            F.min("block").alias("lo"),
            F.max("block").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
        ).collect()[0]
        if rows.n:
            batches.append((epoch_id, rows.lo, rows.hi, rows.n, rows.sv))

    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", stream.sparkSession.conf.get(
            "spark.sql.streaming.checkpointLocation", "/tmp/_rl_ckpt_unused"))
        .start()
    )
    try:
        deadline = time.time() + timeout_s
        target = N_BLOCKS - LAG  # blocks 0..949 inclusive
        while time.time() < deadline:
            if sum(b[3] for b in batches) >= target:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)


def test_rate_limited_stream_bounded_triggers(spark, tmp_path):
    src = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    _write_blocks(spark, src)
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)
    try:
        stream = block_range_stream(
            spark,
            src,
            max_offsets_per_trigger=MAX_PER_TRIGGER,
            streaming_lag=LAG,
            range_splits=4,
        )
        batches: list = []
        _drain(stream, batches)
    finally:
        spark.conf.unset("spark.sql.streaming.checkpointLocation")

    assert batches, "stream produced no batches"
    # every trigger bounded by the clamp
    assert all(b[3] <= MAX_PER_TRIGGER for b in batches), batches
    # backlog drained exactly up to head - lag: blocks 0..949, no dups
    total = sum(b[3] for b in batches)
    assert total == N_BLOCKS - LAG, (total, batches)
    seen_hi = max(b[2] for b in batches)
    assert seen_hi == N_BLOCKS - 1 - LAG, seen_hi
    # ranges are disjoint and contiguous when ordered by epoch
    ordered = sorted(batches)
    for prev, nxt in zip(ordered, ordered[1:]):
        assert nxt[1] == prev[2] + 1, (prev, nxt)
    # value column survived the Arrow path: sum of 2*block over 0..949
    total_sv = sum(b[4] for b in batches)
    assert total_sv == 2 * (N_BLOCKS - LAG - 1) * (N_BLOCKS - LAG) // 2


def test_rate_limited_stream_commits_from_destination(spark, tmp_path):
    """The streaming face of run_to_head: each trigger's epoch lands in
    the destination, and the watermark is re-derived from what actually
    LANDED (commit-from-destination, T3), advancing by at most
    maxOffsetsPerTrigger per epoch."""
    import os

    from dataengineering_spark.streaming.state import (
        SyncState,
        SyncStateStore,
    )

    src = str(tmp_path / "blocks")
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt2")
    _write_blocks(spark, src)
    store = SyncStateStore(str(tmp_path / "state"))

    def sink(df, epoch_id):
        df.write.mode("append").parquet(dest)
        landed = (
            spark.read.parquet(dest).agg(F.max("block").alias("m")).collect()[0].m
        )
        prev = store.get("blocks")
        store.commit(
            "blocks",
            SyncState(
                last_synced_block=int(landed),
                last_synced_block_date=prev.last_synced_block_date,
                latest_block=int(landed),
                latest_block_date=prev.latest_block_date,
            ),
        )

    stream = block_range_stream(
        spark,
        src,
        max_offsets_per_trigger=MAX_PER_TRIGGER,
        streaming_lag=LAG,
        range_splits=4,
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if store.get("blocks").last_synced_block == N_BLOCKS - 1 - LAG:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)

    # watermark reached head - lag, advancing ≤ MAX_PER_TRIGGER per commit
    history = store.history("blocks")
    assert history[-1].last_synced_block == N_BLOCKS - 1 - LAG
    prev_block = -1
    for st in history:
        assert st.last_synced_block - prev_block <= MAX_PER_TRIGGER
        prev_block = st.last_synced_block
    # destination holds exactly the drained range, no dups
    landed = spark.read.parquet(dest)
    assert landed.count() == N_BLOCKS - LAG
    assert landed.select("block").distinct().count() == N_BLOCKS - LAG


def test_rate_limited_restart_resumes_from_cursor(spark, tmp_path):
    """Checkpoint-restart semantics: each trigger(availableNow) run
    drains exactly one clamped range (the documented one-latestOffset-
    per-start model). With cursorPath, run N+1's first clamp starts
    from run N's committed offset — without it, a fresh reader would
    clamp from startOffset and the restarted run would drain nothing."""
    src = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt_restart")
    cursor = str(tmp_path / "cursor")
    _write_blocks(spark, src)

    def run_once():
        got: list = []

        def sink(df, epoch_id):
            r = df.agg(
                F.min("block").alias("lo"),
                F.max("block").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            if r.n:
                got.append((r.lo, r.hi, r.n))

        stream = block_range_stream(
            spark,
            src,
            max_offsets_per_trigger=MAX_PER_TRIGGER,
            streaming_lag=LAG,
            range_splits=4,
            cursor_path=cursor,
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        return got

    first = run_once()
    assert len(first) == 1, first
    assert first[0] == (0, MAX_PER_TRIGGER - 1, MAX_PER_TRIGGER), first

    # restart: a brand-new query (and reader) over the same checkpoint
    second = run_once()
    assert len(second) == 1, second
    assert second[0] == (
        MAX_PER_TRIGGER,
        2 * MAX_PER_TRIGGER - 1,
        MAX_PER_TRIGGER,
    ), second

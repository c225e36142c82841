"""Streaming A/B monitor: the folded snapshot must equal the batch
z-test on the drained events, absorb epoch replays, and survive
partial compaction unchanged."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.plans.queries_eval import q_abtest_ztest
from dataengineering_spark.streaming.abtest import (
    abtest_batch_fn,
    abtest_snapshot,
    compact_partials,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

SF = "/root/testdata/sf0.001"
EPOCH_MOD = 3  # event_id % 3 splits the events into three arrival epochs


def _row(df):
    return {tuple(r) for r in df.collect()}


def _drain(spark, tmp_path):
    ev = read_table(spark, "events", SF)
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            ev.filter(F.col("event_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        abtest_batch_fn(str(tmp_path / "partials")),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    return ev


def test_snapshot_equals_batch_ztest(spark, tmp_path):
    _drain(spark, tmp_path)
    got = _row(abtest_snapshot(spark, str(tmp_path / "partials")))
    ref = _row(q_abtest_ztest(spark, SF))
    assert got == ref


def test_epoch_replay_and_compaction_are_absorbed(spark, tmp_path):
    ev = _drain(spark, tmp_path)
    partials = str(tmp_path / "partials")
    before = _row(abtest_snapshot(spark, partials))

    # simulated foreachBatch replay of epoch 0: identical rows appended
    fn = abtest_batch_fn(partials)
    fn(ev.filter(F.col("event_id") % EPOCH_MOD == 0), 0)
    assert _row(abtest_snapshot(spark, partials)) == before

    # compaction folds epochs but must not change the snapshot
    compact_partials(spark, partials)
    assert _row(abtest_snapshot(spark, partials)) == before

    # a replay of an epoch the compaction absorbed is still a replay
    fn(ev.filter(F.col("event_id") % EPOCH_MOD == 0), 0)
    assert _row(abtest_snapshot(spark, partials)) == before
    n_epochs = (
        spark.read.parquet(partials).select("epoch_id").distinct().count()
    )
    assert n_epochs == 1

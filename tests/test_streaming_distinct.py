"""Streaming HLL distinct gauge: the folded snapshot must equal a
batch union over the same epoch slices exactly, sit within sketch
error of the true distinct counts, and absorb epoch replays."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.operators.sketches import (
    hll_estimate_from_sketch,
    hll_merge_sketches,
)
from dataengineering_spark.streaming.distinct import (
    _epoch_partial,
    distinct_batch_fn,
    distinct_snapshot,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

SF = "/root/testdata/sf0.001"
EPOCH_MOD = 3


def _est(df):
    return {r.event_type: r.distinct_est for r in df.collect()}


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
        distinct_batch_fn(str(tmp_path / "partials")),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    return ev


def test_snapshot_equals_batch_union_and_bounds_truth(spark, tmp_path):
    ev = _drain(spark, tmp_path)
    got = _est(distinct_snapshot(spark, str(tmp_path / "partials")))

    # batch twin: same epoch slices, same per-epoch sketching, one
    # union — must be EXACTLY the streamed fold (identical register
    # state), not approximately
    parts = [
        _epoch_partial(ev.filter(F.col("event_id") % EPOCH_MOD == ep), ep)
        for ep in range(EPOCH_MOD)
    ]
    batch_parts = parts[0]
    for p in parts[1:]:
        batch_parts = batch_parts.unionAll(p)
    ref = _est(
        hll_estimate_from_sketch(
            hll_merge_sketches(batch_parts, ["event_type"])
        ).select("event_type", "distinct_est")
    )
    assert got == ref

    # and within HLL error (lgk=12 → ~1.6% rse; allow 5%) of truth
    truth = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(truth)
    for et, n in truth.items():
        assert abs(got[et] - n) <= max(2.0, 0.05 * n), (et, got[et], n)


def test_epoch_replay_is_absorbed(spark, tmp_path):
    ev = _drain(spark, tmp_path)
    partials = str(tmp_path / "partials")
    before = _est(distinct_snapshot(spark, partials))

    fn = distinct_batch_fn(partials)
    fn(ev.filter(F.col("event_id") % EPOCH_MOD == 0), 0)
    assert _est(distinct_snapshot(spark, partials)) == before

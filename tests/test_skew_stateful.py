"""Skew mitigation transparency + stateful streaming operators."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.operators.skew import (
    explain_skew,
    salted_collect,
    salted_join,
)
from dataengineering_spark.streaming.stateful import (
    running_totals,
    streaming_dedup_first_seen,
)
from dataengineering_spark.streaming.structured import interval_join
from tests.conftest import SF_SMOKE


def _skewed(spark):
    """90% of rows on one key — the hub-address shape."""
    hot = spark.range(900).select(
        F.lit("hub").alias("k"), F.col("id").alias("v")
    )
    cold = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    return hot.unionByName(cold)


def test_salted_join_equals_plain_join(spark):
    left = _skewed(spark)
    right = spark.createDataFrame(
        [("hub", 1.5), ("k1", 2.0), ("k99", 3.0)], "k string, w double"
    )
    plain = left.join(right, on=["k"]).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("sw")
    )
    salted = salted_join(left, right, on=["k"], n_salts=8).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("sw")
    )
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted.collect()}
    assert a == b


def test_salted_join_left_outer(spark):
    left = _skewed(spark)
    right = spark.createDataFrame([("hub", 1.5)], "k string, w double")
    plain = left.join(right, on=["k"], how="left")
    salted = salted_join(left, right, on=["k"], n_salts=4, how="left")
    assert plain.count() == salted.count() == 1000
    assert salted.filter("w IS NULL").count() == 100  # cold keys keep nulls


def test_salted_join_rejects_right_preserving(spark):
    left = _skewed(spark)
    right = spark.createDataFrame([("hub", 1.5)], "k string, w double")
    for how in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(left, right, on=["k"], how=how)


def test_salted_collect_equals_plain(spark):
    df = _skewed(spark)
    plain = df.groupBy("k").agg(F.array_sort(F.collect_list("v")).alias("values"))
    salted = salted_collect(df, ["k"], "v", n_salts=8)
    a = {(r.k, tuple(r["values"])) for r in plain.collect()}
    b = {(r.k, tuple(r["values"])) for r in salted.collect()}
    assert a == b


def test_salted_collect_distinct(spark):
    df = _skewed(spark).unionByName(_skewed(spark))  # duplicates
    out = salted_collect(df, ["k"], "v", n_salts=4, distinct=True)
    hub = [r for r in out.collect() if r.k == "hub"][0]
    assert list(hub["values"]) == list(range(900))


def test_explain_skew_surfaces_hot_key(spark):
    top = explain_skew(_skewed(spark), ["k"], top=3).collect()
    assert top[0].k == "hub" and abs(top[0].share - 0.9) < 1e-9


def test_running_totals_across_microbatches(spark, tmp_path):
    """State must persist across micro-batches in one run: two input
    files + maxFilesPerTrigger=1 → two batches; totals accumulate."""
    ev = read_table(spark, "events", SF_SMOKE).select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "in")
    ev.filter("event_id < 300").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id >= 300 AND event_id < 600").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        running_totals(stream, "event_type", "value")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    res = spark.read.parquet(out_dir)
    assert res.count() > 5  # emitted once per key per batch
    finals = (
        res.groupBy("key").agg(F.max("total_rows").alias("rows")).collect()
    )
    want = {
        r.event_type: r.n
        for r in ev.filter("event_id < 600")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.key: r.rows for r in finals} == want
    # batch_rows < total_rows for second-batch emissions of some key
    assert res.filter("total_rows > batch_rows").count() > 0


def test_streaming_dedup_first_seen(spark, tmp_path):
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [("a",), ("b",)], "fingerprint string"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [("a",), ("c",), ("a",)], "fingerprint string"
    ).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        streaming_dedup_first_seen(stream, "fingerprint")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(out_dir).collect()
    by_fp = {}
    for r in rows:
        by_fp.setdefault(r.fingerprint, []).append(
            (r.first_seen_batch, r.n_duplicates)
        )
    # 'a' appears 3x across 2 batches: exactly one first-seen emission,
    # and (3 - first-batch occurrences) later duplicates — robust to
    # either file-processing order.
    first_seen = [e for e in by_fp["a"] if e[0] == 0]
    later = [e for e in by_fp["a"] if e[0] == -1]
    assert len(first_seen) == 1 and len(later) == 1
    assert first_seen[0][1] + later[0][1] == 2  # 3 occurrences - 1 first
    assert by_fp["b"] == [(0, 0)]
    assert by_fp["c"] == [(0, 0)]


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream interval join (two file streams, multi-batch)
    must emit exactly the batch range-join's row set."""
    ev = read_table(spark, "events", SF_SMOKE)
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("ts_l")
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("ts_r")
    )
    src_a, src_b = str(tmp_path / "a"), str(tmp_path / "b")
    clicks.filter("click_id % 2 = 0").coalesce(1).write.mode("append").parquet(src_a)
    clicks.filter("click_id % 2 = 1").coalesce(1).write.mode("append").parquet(src_a)
    purchases.filter("purchase_id % 2 = 0").coalesce(1).write.mode("append").parquet(src_b)
    purchases.filter("purchase_id % 2 = 1").coalesce(1).write.mode("append").parquet(src_b)

    sa = (
        spark.readStream.schema(spark.read.parquet(src_a).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_a)
    )
    sb = (
        spark.readStream.schema(spark.read.parquet(src_b).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_b)
    )
    joined = interval_join(
        sa, sb, "user_id", bound="15 minutes", watermark="30 days"
    ).select("user_id", "click_id", "purchase_id")
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in interval_join(clicks, purchases, "user_id", bound="15 minutes")
        .select("user_id", "click_id", "purchase_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_streaming_cdc_latest_matches_batch_apply(spark, tmp_path):
    """The stateful streaming CDC op must converge to EXACTLY the
    batch cdc_apply snapshot however the changelog is sliced into
    micro-batches: two files -> two batches, final per-key emission
    (max lsn) minus tombstones == the batch query's rows."""
    from dataengineering_spark.streaming.stateful import streaming_cdc_latest
    from dataengineering_spark.plans.queries_analytics import q_cdc_apply

    ev = read_table(spark, "events", SF_SMOKE).select(
        F.col("user_id").alias("k"),
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "purchase", "D")
        .otherwise("U")
        .alias("op"),
        F.floor(F.col("value") * 1e6).cast("long").alias("value_micro"),
    )
    src = str(tmp_path / "in")
    ev.filter("lsn % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.filter("lsn % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        streaming_cdc_latest(stream, "k")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    res = spark.read.parquet(out_dir)
    w = Window.partitionBy("k").orderBy(F.col("lsn").desc())
    final = (
        res.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1 AND NOT is_tombstone")
        .select("k", "lsn", "op", "value_micro")
    )
    got = sorted(tuple(r) for r in final.collect())
    want = sorted(
        tuple(r) for r in q_cdc_apply(spark, SF_SMOKE).collect()
    )
    assert got == want

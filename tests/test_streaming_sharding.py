"""Streaming token-budget sharding: draining contiguous doc_id-range
epochs must reproduce the batch token_budget_shards assignment
row-for-row (shards legitimately SPAN epochs), and a foreachBatch
replay must reproduce — not advance — the carried token total."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.caching import release_tracked
from dataengineering_spark.catalog import read_table
from dataengineering_spark.operators.chunking import token_budget_shards
from dataengineering_spark.streaming.sharding import (
    accumulated_shards,
    token_shards_batch_fn,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

SF = "/root/testdata/sf0.001"
BUDGET = 7_000
# contiguous doc_id ranges — the ordered-arrival contract
RANGES = [(0, 170), (170, 340), (340, 10_000_000)]


def _docs(spark):
    return read_table(spark, "documents", SF).select(
        "doc_id", "n_chars"
    )


def _rows(df):
    return {
        (r.doc_id, r.n_chars, r.cum_before, r.seq_id, r.offset_in_seq)
        for r in df.collect()
    }


def _drain(spark, tmp_path):
    docs = _docs(spark)
    src = str(tmp_path / "arrivals")
    for lo, hi in RANGES:
        (
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("doc_id long, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        token_shards_batch_fn(
            state_root=str(tmp_path / "state"),
            out_dir=str(tmp_path / "shards"),
            size_col="n_chars",
            order_col="doc_id",
            budget=BUDGET,
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    return docs


def test_stream_shards_equal_batch(spark, tmp_path):
    docs = _drain(spark, tmp_path)
    got = _rows(accumulated_shards(spark, str(tmp_path / "shards")))
    ref = _rows(token_budget_shards(docs, "n_chars", "doc_id", BUDGET))
    release_tracked()
    assert got == ref
    # the continuation is real: at least one shard spans an epoch
    # boundary (documents from different ranges share a seq_id)
    by_seq = {}
    for doc_id, _n, _c, seq, _o in got:
        epoch = sum(doc_id >= lo for lo, _hi in RANGES) - 1
        by_seq.setdefault(seq, set()).add(epoch)
    assert any(len(eps) > 1 for eps in by_seq.values())


def test_epoch_replay_reproduces_not_advances(spark, tmp_path):
    docs = _drain(spark, tmp_path)
    out = str(tmp_path / "shards")
    before = _rows(accumulated_shards(spark, out))
    fn = token_shards_batch_fn(
        str(tmp_path / "state"), out, "n_chars", "doc_id", BUDGET
    )
    # replay the MIDDLE epoch: its state entry exists, so base must be
    # re-read from its own entry, producing byte-identical rows
    lo, hi = RANGES[1]
    fn(docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), 1)
    release_tracked()
    assert _rows(accumulated_shards(spark, out)) == before

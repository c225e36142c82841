"""Streaming MinHash-LSH: stream-accumulated near-dup candidate pairs
must equal batch ``minhash_lsh_pairs`` on the drained corpus, with
cross-epoch pairs found via the persisted band index (never an
all-pairs join), and epoch replay must not corrupt the result."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.operators.dedup import minhash_lsh_pairs

import pytest

# Whole-registry long-horizon sweep: excluded from the default
# (driver-budget) pytest run; gates shipping via `make test-slow`.
pytestmark = pytest.mark.slow
from dataengineering_spark.streaming.lsh import (
    accumulated_pairs,
    lsh_neardup_batch_fn,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

# Three near-dup clusters + two singletons, split so that cluster A
# spans epochs (cross-batch pair), cluster B is intra-epoch, and
# cluster C pairs a late arrival against two indexed docs.
_BASE20 = (
    "minhash signatures approximate jaccard similarity between shingled"
    " documents for near duplicate detection at scale"
)
DOCS = {
    1: "the quick brown fox jumps over the lazy dog in the morning light today",
    2: "the quick brown fox jumps over the lazy dog in the morning light tonight",
    10: "spark structured streaming processes data in incremental micro batches with checkpoints",
    11: "spark structured streaming processes data in incremental micro batches with checkpoint",
    20: _BASE20,
    21: _BASE20 + " quickly",
    22: _BASE20 + " cheaply",
    90: "completely unrelated text about cooking pasta with tomato sauce",
    91: "another standalone document concerning mountain weather forecasts today",
}
EPOCHS = [
    [1, 20, 90],        # epoch 0 seeds the index
    [2, 10, 11, 21],    # cross-batch: 2~1, 21~20; intra: 10~11
    [22, 91],           # 22 pairs with BOTH indexed 20 and 21
]


def _write_epochs(spark, src):
    for ids in EPOCHS:
        rows = [(i, DOCS[i]) for i in ids]
        (
            spark.createDataFrame(rows, "doc_id long, text string")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)  # file-source batch order follows modification time


def _drain(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_epochs(spark, src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        lsh_neardup_batch_fn(
            index_dir=str(tmp_path / "index"),
            pairs_dir=str(tmp_path / "pairs"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    return src


def test_stream_pairs_equal_batch(spark, tmp_path):
    src = _drain(spark, tmp_path)
    stream_pairs = {
        (r.doc_a, r.doc_b)
        for r in accumulated_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    corpus = spark.read.parquet(src)
    batch_pairs = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(corpus).collect()
    }
    assert stream_pairs == batch_pairs
    # the corpus was built to exercise every epoch topology:
    assert (1, 2) in stream_pairs        # cross-batch
    assert (10, 11) in stream_pairs      # intra-batch
    assert (20, 22) in stream_pairs and (21, 22) in stream_pairs  # late vs 2 indexed
    flat = {d for p in stream_pairs for d in p}
    assert 90 not in flat and 91 not in flat  # singletons stay single


def test_epoch_replay_is_idempotent_after_distinct(spark, tmp_path):
    """foreachBatch replays a failed epoch; appended pair/band rows are
    deterministic, so a replayed epoch only duplicates rows that
    ``accumulated_pairs``' distinct already absorbs — and re-running
    the batch_fn on an already-indexed epoch must not invent pairs."""
    src = str(tmp_path / "src")
    _write_epochs(spark, src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        lsh_neardup_batch_fn(
            index_dir=str(tmp_path / "index"),
            pairs_dir=str(tmp_path / "pairs"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    before = {
        (r.doc_a, r.doc_b)
        for r in accumulated_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    n_raw = spark.read.parquet(str(tmp_path / "pairs")).count()
    # replay epoch 1 by hand, as the checkpoint would after a crash
    batch_fn = lsh_neardup_batch_fn(
        str(tmp_path / "index"), str(tmp_path / "pairs")
    )
    replay = spark.createDataFrame(
        [(i, DOCS[i]) for i in EPOCHS[1]], "doc_id long, text string"
    )
    batch_fn(replay, epoch_id=1)
    after = {
        (r.doc_a, r.doc_b)
        for r in accumulated_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    assert after == before
    # the replay wrote nothing: the raw store, read without distinct
    assert spark.read.parquet(str(tmp_path / "pairs")).count() == n_raw


def test_cross_join_broadcasts_batch_side(spark, tmp_path):
    """The scale contract: the index side of the cross-epoch join is
    filtered map-side against BROADCAST batch bands — the index never
    shuffles. Assert the executed plan broadcasts."""
    from dataengineering_spark.operators.dedup import lsh_bands, minhash_signatures
    from dataengineering_spark.streaming.lsh import _cross_pairs

    docs = spark.createDataFrame(
        [(i, DOCS[i]) for i in DOCS], "doc_id long, text string"
    )
    bands_df = lsh_bands(minhash_signatures(docs))
    plan = (
        _cross_pairs(bands_df, bands_df.limit(3), "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

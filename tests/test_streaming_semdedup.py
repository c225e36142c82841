"""Streaming SemDeDup: stream-accumulated within-cell cosine pairs
must equal the batch pair set under the same frozen quantizer, with
cross-epoch pairs found via the persisted cell index, and epoch
replay must not corrupt the result."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.operators.dedup import semantic_candidate_pairs
from dataengineering_spark.operators.similarity import (
    _spread_for_training,
    dot,
    ivf_assign,
    ivf_train_rows,
)
from dataengineering_spark.streaming.semdedup import (
    accumulated_semantic_pairs,
    semantic_neardup_batch_fn,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

SF = "/root/testdata/sf0.001"
EPOCH_MOD = 3
THRESHOLD = 0.35
C, ITERS, DIM = 8, 2, 64


def _frozen_quantizer(spark):
    emb = read_table(spark, "embeddings", SF)
    e = _spread_for_training(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    return emb, ivf_train_rows(e, C, ITERS, DIM)


def _batch_pairs(emb, cent_rows):
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cells = ivf_assign(e, cent_rows).withColumn("dd", dot(F.col("v"), F.col("v")))
    return {
        (r.vec_a, r.vec_b)
        for r in semantic_candidate_pairs(cells, threshold=THRESHOLD).collect()
    }


def _drain(spark, tmp_path, cent_rows, emb):
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            emb.filter(F.col("vec_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        semantic_neardup_batch_fn(
            cent_rows,
            index_dir=str(tmp_path / "index"),
            pairs_dir=str(tmp_path / "pairs"),
            threshold=THRESHOLD,
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)


def test_stream_pairs_equal_batch(spark, tmp_path):
    emb, cent_rows = _frozen_quantizer(spark)
    _drain(spark, tmp_path, cent_rows, emb)
    got = {
        (r.vec_a, r.vec_b)
        for r in accumulated_semantic_pairs(
            spark, str(tmp_path / "pairs")
        ).collect()
    }
    ref = _batch_pairs(emb, cent_rows)
    assert got == ref and len(ref) > 0


def test_two_level_stream_pairs_equal_batch(spark, tmp_path):
    """The frozen quantizer can be the two-level (super, sub, c2)
    triple — the scale shape for C in the thousands. Stream-accumulated
    pairs under the composite cid must equal the batch pair set under
    the same two-level assignment."""
    from dataengineering_spark.operators.similarity import two_level_train_rows

    emb = read_table(spark, "embeddings", SF)
    e = _spread_for_training(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    c1, c2 = 4, 4
    sr, sbs = two_level_train_rows(e, c1, c2, n_iters=1, dim=DIM)
    frozen = (sr, sbs, c2)

    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            emb.filter(F.col("vec_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        semantic_neardup_batch_fn(
            frozen,
            index_dir=str(tmp_path / "index"),
            pairs_dir=str(tmp_path / "pairs"),
            threshold=THRESHOLD,
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {
        (r.vec_a, r.vec_b)
        for r in accumulated_semantic_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    # batch reference under the SAME two-level assignment
    from dataengineering_spark.operators.similarity import two_level_assign

    cells = two_level_assign(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")),
        sr,
        sbs,
        c2,
    ).withColumn("dd", dot(F.col("v"), F.col("v")))
    ref = {
        (r.vec_a, r.vec_b)
        for r in semantic_candidate_pairs(cells, threshold=THRESHOLD).collect()
    }
    assert got == ref and len(ref) > 0


def test_epoch_replay_is_absorbed(spark, tmp_path):
    emb, cent_rows = _frozen_quantizer(spark)
    _drain(spark, tmp_path, cent_rows, emb)
    pairs_dir = str(tmp_path / "pairs")
    before = {
        (r.vec_a, r.vec_b)
        for r in accumulated_semantic_pairs(spark, pairs_dir).collect()
    }
    # replay the LAST epoch: its cells are already in the index, so the
    # replayed epoch re-emits its intra pairs and re-matches the index
    # (including itself — absorbed by the (least, greatest) ordering +
    # distinct, like a multi-band LSH hit)
    fn = semantic_neardup_batch_fn(
        cent_rows,
        index_dir=str(tmp_path / "index"),
        pairs_dir=pairs_dir,
        threshold=THRESHOLD,
    )
    fn(emb.filter(F.col("vec_id") % EPOCH_MOD == EPOCH_MOD - 1), EPOCH_MOD - 1)
    after = {
        (r.vec_a, r.vec_b)
        for r in accumulated_semantic_pairs(spark, pairs_dir).collect()
    }
    assert after == before

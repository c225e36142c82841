"""Streaming DSIR: scoring the drained corpus against the folded
partials must equal the batch dsir_weights output exactly (BIGINT
score_fp — no tolerance), absorb epoch replays, and survive
compaction unchanged."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.caching import release_tracked
from dataengineering_spark.catalog import read_table
from dataengineering_spark.plans.queries_curation import q_dsir_weights
from dataengineering_spark.streaming.dsir import (
    compact_dsir_partials,
    dsir_partials_batch_fn,
    dsir_score_against_snapshot,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

SF = "/root/testdata/sf0.001"
EPOCH_MOD = 3  # doc_id % 3 splits the corpus into three arrival epochs


def _rows(df):
    return {(r.doc_id, r.n_bigrams, r.score_fp) for r in df.collect()}


def _drain(spark, tmp_path):
    docs = read_table(spark, "documents", SF)
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            docs.filter(F.col("doc_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        dsir_partials_batch_fn(str(tmp_path / "partials")),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    return docs


def test_stream_scores_equal_batch(spark, tmp_path):
    docs = _drain(spark, tmp_path)
    got = _rows(
        dsir_score_against_snapshot(spark, docs, str(tmp_path / "partials"))
    )
    ref = _rows(q_dsir_weights(spark, SF))
    release_tracked()
    assert got == ref


def test_epoch_replay_and_compaction_are_absorbed(spark, tmp_path):
    docs = _drain(spark, tmp_path)
    partials = str(tmp_path / "partials")
    before = _rows(dsir_score_against_snapshot(spark, docs, partials))
    release_tracked()

    # simulated foreachBatch replay of epoch 0: identical rows appended
    fn = dsir_partials_batch_fn(partials)
    fn(docs.filter(F.col("doc_id") % EPOCH_MOD == 0), 0)
    assert _rows(dsir_score_against_snapshot(spark, docs, partials)) == before
    release_tracked()

    # compaction folds epochs but must not change the scores
    compact_dsir_partials(spark, partials)
    assert _rows(dsir_score_against_snapshot(spark, docs, partials)) == before
    release_tracked()

    # a replay of an epoch the compaction absorbed is still a replay
    fn(docs.filter(F.col("doc_id") % EPOCH_MOD == 0), 0)
    assert _rows(dsir_score_against_snapshot(spark, docs, partials)) == before
    release_tracked()
    n_epochs = spark.read.parquet(partials).select("epoch_id").distinct().count()
    assert n_epochs == 1

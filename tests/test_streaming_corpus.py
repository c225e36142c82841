"""Streaming corpus stats: the folded snapshot must equal the batch
dataset-card report on the drained corpus, absorb epoch replays, and
survive partial compaction unchanged."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.plans.queries_llm import q_corpus_report
from dataengineering_spark.streaming.corpus import (
    compact_partials,
    corpus_stats_batch_fn,
    corpus_stats_snapshot,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

SF = "/root/testdata/sf0.001"
EPOCH_MOD = 3  # doc_id % 3 splits the corpus into three arrival epochs


def _rows(df):
    return {
        (r.source, r.lang, r.n_docs, r.total_chars, r.total_words, r.gid)
        for r in df.collect()
    }


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
        corpus_stats_batch_fn(str(tmp_path / "partials")),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    return docs


def test_snapshot_equals_batch_report(spark, tmp_path):
    _drain(spark, tmp_path)
    got = _rows(corpus_stats_snapshot(spark, str(tmp_path / "partials")))
    ref = _rows(q_corpus_report(spark, SF))
    assert got == ref


def test_epoch_replay_and_compaction_are_absorbed(spark, tmp_path):
    docs = _drain(spark, tmp_path)
    partials = str(tmp_path / "partials")
    before = _rows(corpus_stats_snapshot(spark, partials))

    # simulated foreachBatch replay of epoch 0: identical rows appended
    fn = corpus_stats_batch_fn(partials)
    fn(docs.filter(F.col("doc_id") % EPOCH_MOD == 0), 0)
    assert _rows(corpus_stats_snapshot(spark, partials)) == before

    # compaction folds epochs but must not change the snapshot
    compact_partials(spark, partials)
    assert _rows(corpus_stats_snapshot(spark, partials)) == before

    # a replay of an epoch the compaction absorbed is still a replay
    fn(docs.filter(F.col("doc_id") % EPOCH_MOD == 0), 0)
    assert _rows(corpus_stats_snapshot(spark, partials)) == before
    n_epochs = (
        spark.read.parquet(partials).select("epoch_id").distinct().count()
    )
    assert n_epochs == 1

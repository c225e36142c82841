"""Streaming decontamination gate: the drained stream's clean +
quarantine sinks must reproduce the batch benchmark_overlap split
exactly, every document must land in exactly one sink, and epoch
replay must not corrupt either sink."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.functions.text import word_array
from dataengineering_spark.operators.contamination import benchmark_overlap
from dataengineering_spark.streaming.contamination import (
    decontaminate_batch_fn,
    quarantined,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

SF = "/root/testdata/sf0.001"
EPOCH_MOD = 3
N = 8


def _benchmark(docs):
    # 15-word excerpts of every 50th doc — the q_benchmark_overlap
    # construction (real benchmarks are verbatim excerpts of crawl)
    return docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("item_id"),
        F.concat_ws(" ", F.slice(word_array("text"), 6, 15)).alias("text"),
    )


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
        decontaminate_batch_fn(
            _benchmark(docs),
            clean_dir=str(tmp_path / "clean"),
            quarantine_dir=str(tmp_path / "quarantine"),
            n=N,
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    return docs


def test_stream_split_equals_batch(spark, tmp_path):
    docs = _drain(spark, tmp_path)
    got_q = {
        (r.doc_id, r.hit_ngrams, r.bench_items)
        for r in quarantined(spark, str(tmp_path / "quarantine")).collect()
    }
    ref = {
        (r.doc_id, r.hit_ngrams, r.bench_items)
        for r in benchmark_overlap(docs, _benchmark(docs), n=N).collect()
    }
    assert got_q == ref and len(ref) > 0

    clean_ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "clean"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    # exactly-one-sink: clean ∪ quarantined = corpus, clean ∩ quarantined = ∅
    q_ids = {t[0] for t in got_q}
    assert clean_ids | q_ids == all_ids
    assert clean_ids & q_ids == set()


def test_epoch_replay_is_absorbed(spark, tmp_path):
    docs = _drain(spark, tmp_path)
    qdir = str(tmp_path / "quarantine")
    before = {
        (r.doc_id, r.hit_ngrams, r.bench_items)
        for r in quarantined(spark, qdir).collect()
    }
    fn = decontaminate_batch_fn(
        _benchmark(docs),
        clean_dir=str(tmp_path / "clean"),
        quarantine_dir=qdir,
        n=N,
    )
    fn(docs.filter(F.col("doc_id") % EPOCH_MOD == 0), 0)
    after = {
        (r.doc_id, r.hit_ngrams, r.bench_items)
        for r in quarantined(spark, qdir).collect()
    }
    assert after == before
    # the clean sink dedups by doc_id after a replay
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert (
        clean.select("doc_id").distinct().count()
        == clean.distinct().count()
    )

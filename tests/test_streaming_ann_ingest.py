"""Streaming ANN ingest: vectors appended through the frozen-index
encode loop must serve identically to a batch-encoded union corpus,
and the per-cell accounting must reconcile with the encoded table."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.caching import tracking_scope
from dataengineering_spark.catalog import read_table
from dataengineering_spark.operators.similarity import (
    encode_corpus,
    ivfpq_topk,
    train_ivfpq,
)
from dataengineering_spark.streaming.ann import (
    ann_ingest_batch_fn,
    ann_serve_batch,
    ingest_cell_stats,
    save_encoded_corpus,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

SF = "/root/testdata/sf0.001"
DIM, C, NPROBE, M, KSUB, K = 64, 8, 2, 4, 8, 5
BASE_MAX = 300  # index trained + corpus seeded from vec_id < 300
INGEST_EPOCHS = [(300, 360), (360, 420), (420, 500)]


def _setup(spark, tmp_path):
    full = read_table(spark, "embeddings", SF).select("vec_id", "embedding")
    base = full.filter(F.col("vec_id") < BASE_MAX)
    index = train_ivfpq(
        base, n_centroids=C, coarse_iters=1, m_sub=M, k_sub=KSUB,
        pq_iters=1, dim=DIM,
    )
    enc_path = str(tmp_path / "enc")
    save_encoded_corpus(encode_corpus(base, index, m_sub=M, dim=DIM), enc_path)
    return full, base, index, enc_path


def _drain_ingest(spark, tmp_path, full, index, enc_path):
    src = str(tmp_path / "arrivals")
    for lo, hi in INGEST_EPOCHS:
        (
            full.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        ann_ingest_batch_fn(
            enc_path,
            index,
            m_sub=M, dim=DIM,
            stats_path=str(tmp_path / "stats"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)


def test_ingested_corpus_serves_like_batch_union(spark, tmp_path):
    full, base, index, enc_path = _setup(spark, tmp_path)
    _drain_ingest(spark, tmp_path, full, index, enc_path)

    queries = full.filter(F.col("vec_id") < 6)
    # release the serve-side probe/LUT persist after the consuming
    # collect (release-per-query invariant, ADVICE r8)
    with tracking_scope():
        got = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in ann_serve_batch(
                queries, enc_path, index, k=K, nprobe=NPROBE, m_sub=M, dim=DIM
            ).collect()
        }
    ref = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_topk(
            full,  # union corpus: base + every ingested epoch
            queries,
            k=K, n_centroids=C, nprobe=NPROBE, coarse_iters=1,
            m_sub=M, k_sub=KSUB, pq_iters=1, dim=DIM, index=index,
        ).collect()
    }
    assert got == ref
    # the ingested vectors are actually findable: at least one result
    # neighbor must come from the streamed range
    assert any(n >= BASE_MAX for _, n, _ in got)


def test_cell_stats_reconcile_with_encoded_table(spark, tmp_path):
    full, base, index, enc_path = _setup(spark, tmp_path)
    _drain_ingest(spark, tmp_path, full, index, enc_path)

    stats = ingest_cell_stats(spark, str(tmp_path / "stats"))
    per_cell = {
        r.cid: r.n
        for r in stats.groupBy("cid")
        .agg(F.sum("n_vectors").alias("n"))
        .collect()
    }
    ingested = (
        spark.read.parquet(enc_path)
        .filter(F.col("vec_id") >= BASE_MAX)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {r.cid: r.n for r in ingested.collect()} == per_cell
    assert stats.select("epoch_id").distinct().count() == len(INGEST_EPOCHS)

"""Streaming ANN serve: stream-accumulated top-k over a persisted
encoded corpus must equal batch ``ivfpq_topk`` with the same index,
the per-batch corpus read must be partition-pruned to the probed
cells, and epoch replay must not change the accumulated result."""

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
    accumulated_results,
    ann_serve_batch,
    ann_serve_batch_fn,
    save_encoded_corpus,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

SF = "/root/testdata/sf0.001"
DIM, C, NPROBE, M, KSUB, K = 64, 8, 2, 4, 8, 5
QUERY_EPOCHS = [[0, 1, 2, 3], [10, 11, 12, 13], [20, 21, 22, 23]]


def _corpus(spark):
    return read_table(spark, "embeddings", SF).select("vec_id", "embedding")


def _index_and_enc(spark, tmp_path):
    corpus = _corpus(spark)
    index = train_ivfpq(
        corpus, n_centroids=C, coarse_iters=1, m_sub=M, k_sub=KSUB,
        pq_iters=1, dim=DIM,
    )
    enc_path = str(tmp_path / "enc")
    save_encoded_corpus(
        encode_corpus(corpus, index, m_sub=M, dim=DIM), enc_path
    )
    return corpus, index, enc_path


def _write_query_epochs(spark, corpus, src):
    for ids in QUERY_EPOCHS:
        (
            corpus.filter(F.col("vec_id").isin(ids))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)  # file-source batch order follows modification time


def test_stream_results_equal_batch(spark, tmp_path):
    corpus, index, enc_path = _index_and_enc(spark, tmp_path)
    src = str(tmp_path / "queries")
    _write_query_epochs(spark, corpus, src)

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        ann_serve_batch_fn(
            enc_path,
            index,
            out_path=str(tmp_path / "out"),
            k=K, nprobe=NPROBE, m_sub=M, dim=DIM,
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in accumulated_results(spark, str(tmp_path / "out")).collect()
    }
    all_ids = [i for ep in QUERY_EPOCHS for i in ep]
    ref = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_topk(
            corpus,
            corpus.filter(F.col("vec_id").isin(all_ids)),
            k=K, n_centroids=C, nprobe=NPROBE, coarse_iters=1,
            m_sub=M, k_sub=KSUB, pq_iters=1, dim=DIM, index=index,
        ).collect()
    }
    assert got == ref
    assert len({g[0] for g in got}) == len(all_ids)  # every query answered


def test_serve_scan_is_partition_pruned(spark, tmp_path):
    corpus, index, enc_path = _index_and_enc(spark, tmp_path)
    batch = corpus.filter(F.col("vec_id") < 4)
    # ann_serve_batch registers (does not release) its probe/LUT
    # persist; direct consumers own the release (release-per-query
    # invariant, ADVICE r8)
    with tracking_scope():
        out = ann_serve_batch(
            batch, enc_path, index, k=K, nprobe=NPROBE, m_sub=M, dim=DIM
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    # the encoded-corpus scan is the one whose output carries the cid
    # partition column (its path may be abbreviated in the plan string)
    scan = next(
        ln for ln in plan.splitlines()
        if "FileScan" in ln
        and any(
            a.startswith("cid#")
            for a in ln.split("[", 1)[1].split("]", 1)[0].split(",")
        )
    )
    assert "PartitionFilters" in scan and "cid" in scan.split(
        "PartitionFilters"
    )[1].split("]")[0], scan


def test_epoch_replay_is_idempotent(spark, tmp_path):
    corpus, index, enc_path = _index_and_enc(spark, tmp_path)
    out_path = str(tmp_path / "out")
    fn = ann_serve_batch_fn(
        enc_path, index, out_path, k=K, nprobe=NPROBE, m_sub=M, dim=DIM
    )
    epoch0 = corpus.filter(F.col("vec_id").isin(QUERY_EPOCHS[0]))
    fn(epoch0, 0)
    once = sorted(
        map(tuple, accumulated_results(spark, out_path).collect())
    )
    fn(epoch0, 0)  # replay after simulated failure
    twice = sorted(
        map(tuple, accumulated_results(spark, out_path).collect())
    )
    assert once == twice

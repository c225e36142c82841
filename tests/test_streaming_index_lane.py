"""Fault injection for the near-dup index lanes (LSH bands, SemDeDup
cells, image fingerprints): an epoch that dies after its pairs are
written but before its index write is replayed on restart, and the
replay must not write its pairs twice — the raw pair store equals the
lane's batch twin as a multiset."""

from __future__ import annotations

import os
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.functions.multimodal import (
    dhash_images,
    make_gradient_png,
)
from dataengineering_spark.operators.dedup import (
    minhash_lsh_pairs,
    semantic_candidate_pairs,
    simhash_neardup_pairs,
)
from dataengineering_spark.operators.similarity import (
    _spread_for_training,
    dot,
    ivf_assign,
    ivf_train_rows,
)
from dataengineering_spark.streaming import store
from dataengineering_spark.streaming.lsh import lsh_neardup_batch_fn
from dataengineering_spark.streaming.media_dedup import media_neardup_batch_fn
from dataengineering_spark.streaming.semdedup import semantic_neardup_batch_fn
from dataengineering_spark.streaming.structured import run_foreach_batch
from tests.conftest import SF_SMOKE as SF

EPOCH_MOD = 3
FAIL_EPOCH = 1


def _lsh(spark):
    docs = read_table(spark, "documents", SF).select("doc_id", "text")
    return (
        docs,
        "doc_id",
        "doc_id long, text string",
        lsh_neardup_batch_fn,
        lambda: minhash_lsh_pairs(docs),
    )


def _semdedup(spark):
    emb = read_table(spark, "embeddings", SF).select("vec_id", "embedding")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cent_rows = ivf_train_rows(_spread_for_training(v), 8, 2, 64)
    cells = ivf_assign(v, cent_rows).withColumn("dd", dot(F.col("v"), F.col("v")))
    return (
        emb,
        "vec_id",
        "vec_id long, embedding array<float>",
        lambda index_dir, pairs_dir: semantic_neardup_batch_fn(
            cent_rows, index_dir, pairs_dir
        ),
        lambda: semantic_candidate_pairs(cells),
    )


def _media(spark):
    # groups of 3 share a gradient; the third member is 1px wider
    rows = []
    for i in range(90):
        grp = i // 3
        w = 100 + grp % 23 + (1 if i % 3 == 2 else 0)
        rows.append((i, make_gradient_png(w, 12, (grp * 97) % 251)))
    corpus = spark.createDataFrame(rows, "doc_id long, payload binary")
    return (
        corpus,
        "doc_id",
        "doc_id long, payload binary",
        lambda index_dir, pairs_dir: media_neardup_batch_fn(
            dhash_images, "dhash", 64, index_dir, pairs_dir
        ),
        lambda: simhash_neardup_pairs(
            dhash_images(corpus), max_distance=3, sim_col="dhash", bits=64
        ),
    )


LANES = {"lsh": _lsh, "semdedup": _semdedup, "media_dedup": _media}


@pytest.mark.parametrize("lane", sorted(LANES))
def test_epoch_killed_between_pair_and_index_writes(
    spark, tmp_path, monkeypatch, lane
):
    corpus, key, schema, batch_fn, twin = LANES[lane](spark)
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            corpus.filter(F.col(key) % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)  # file-source batch order follows modification time
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    real_write = store.write_epoch
    raised = []

    def write_epoch(frame, path, epoch_id, *args, **kwargs):
        if path == index_dir and epoch_id == FAIL_EPOCH and not raised:
            raised.append(epoch_id)
            raise RuntimeError("injected fault before the index write")
        return real_write(frame, path, epoch_id, *args, **kwargs)

    monkeypatch.setattr(store, "write_epoch", write_epoch)
    q = run_foreach_batch(stream, batch_fn(index_dir, pairs_dir), ckpt)
    with pytest.raises(Exception, match="injected fault"):
        q.awaitTermination(120)
    # the fault hit after the epoch's pairs landed, before its index
    assert f"epoch_id={FAIL_EPOCH}" in os.listdir(pairs_dir)
    assert f"epoch_id={FAIL_EPOCH}" not in os.listdir(index_dir)

    run_foreach_batch(
        stream, batch_fn(index_dir, pairs_dir), ckpt
    ).awaitTermination(120)
    got = Counter(
        tuple(r)
        for r in spark.read.parquet(pairs_dir).drop(store.EPOCH_COL).collect()
    )
    want = Counter(tuple(r) for r in twin().collect())
    assert got == want and want

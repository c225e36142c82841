"""Streaming perceptual media near-dup: fingerprints appended through
the incremental index loop must accumulate EXACTLY the batch
fingerprint + pigeonhole chunk-join pair set over the same corpus —
for the image (dHash, 64-bit), audio (two-band, 64-bit), and video
(aligned frame-hash set) lanes."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataengineering_spark.functions.multimodal import (
    audio_fingerprints,
    dhash_images,
    make_gradient_png,
    make_test_wav,
)
from dataengineering_spark.operators.dedup import simhash_neardup_pairs
from dataengineering_spark.streaming.media_dedup import (
    accumulated_media_pairs,
    media_neardup_batch_fn,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

import pytest

# Long-horizon fuzz/soak/equivalence suite: excluded from the default
# (driver-budget) pytest run; gates shipping via `make test-slow`.
pytestmark = pytest.mark.slow

N_DOCS = 90
EPOCH_MOD = 3


def _image_corpus(spark):
    rows = []
    for i in range(N_DOCS):
        grp = i // 3
        w = 100 + grp % 23 + (1 if i % 3 == 2 else 0)
        rows.append((i, make_gradient_png(w, 12, (grp * 97) % 251)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _audio_corpus(spark):
    rows = []
    for i in range(N_DOCS):
        grp = i // 3
        a, b, n = 3 + grp % 11, grp % 53 + (3 if i % 3 == 2 else 0), 256 + grp % 17
        rows.append(
            (i, make_test_wav([((a * (t + 1) + b) % 201) - 100 for t in range(n)]))
        )
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _drain(spark, tmp_path, corpus, hasher, sim_col, bits):
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            corpus.filter(F.col("doc_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)  # file-source batch order follows modification time
    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        media_neardup_batch_fn(
            hasher,
            sim_col,
            bits,
            index_dir=str(tmp_path / "index"),
            pairs_dir=str(tmp_path / "pairs"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)


def _batch_pairs(corpus, hasher, sim_col, bits):
    return simhash_neardup_pairs(
        hasher(corpus), max_distance=3, sim_col=sim_col, bits=bits
    )


def test_image_stream_pairs_equal_batch(spark, tmp_path):
    corpus = _image_corpus(spark)
    _drain(spark, tmp_path, corpus, dhash_images, "dhash", 64)
    got = {
        tuple(r)
        for r in accumulated_media_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    want = {tuple(r) for r in _batch_pairs(corpus, dhash_images, "dhash", 64).collect()}
    assert got == want and want  # non-trivial fixture
    # the index holds every object's fingerprint exactly once per epoch
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.distinct().count() == N_DOCS


def test_audio_stream_pairs_equal_batch(spark, tmp_path):
    corpus = _audio_corpus(spark)
    _drain(spark, tmp_path, corpus, audio_fingerprints, "afp", 64)
    got = {
        tuple(r)
        for r in accumulated_media_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    want = {
        tuple(r) for r in _batch_pairs(corpus, audio_fingerprints, "afp", 64).collect()
    }
    assert got == want and want


def _video_corpus(spark):
    from dataengineering_spark.functions.multimodal import (
        make_diag_png,
        make_test_video,
    )

    rows = []
    for i in range(N_DOCS):
        grp = i // 3
        frames = [
            make_diag_png(
                48 + grp % 23 + (1 if (i % 3 == 2 and f % 2 == 0) else 0),
                10 + grp % 5,
                (grp * 97 + f * 31) % 251,
                1 + (grp * 7 + f * 3) % 113,
                (grp * 13 + f * 5) % 251,
            )
            for f in range(6)
        ]
        rows.append((i, make_test_video(frames)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_video_stream_pairs_equal_batch(spark, tmp_path):
    """Video modality: frame-hash SETS as index state; accumulated
    (doc_a, doc_b, n_match) must equal the batch slot-aligned
    pigeonhole plan, including pairs that straddle epochs."""
    from dataengineering_spark.functions.multimodal import video_frame_hashes
    from dataengineering_spark.operators.dedup import video_neardup_pairs
    from dataengineering_spark.streaming.media_dedup import (
        accumulated_video_pairs,
        video_neardup_batch_fn,
    )

    corpus = _video_corpus(spark)
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            corpus.filter(F.col("doc_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        video_neardup_batch_fn(
            index_dir=str(tmp_path / "index"),
            pairs_dir=str(tmp_path / "pairs"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    got = {
        tuple(r)
        for r in accumulated_video_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    want = {
        tuple(r)
        for r in video_neardup_pairs(video_frame_hashes(corpus)).collect()
    }
    assert got == want and want
    # every group's modulo-3 split puts its 3 members in 3 different
    # epochs, so EVERY pair here crossed the index-join path
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.distinct().count() == N_DOCS * 4  # 4 slots per video


def test_image_stream_then_repair_equals_capped_batch(spark, tmp_path):
    """r11: the epoch loop deliberately excludes the hot-bucket cap
    (an epoch-local cap breaks stream==batch); repair_accumulated_pairs
    applies it in a batch pass over the accumulated index — the result
    must equal the capped BATCH join over the same corpus, with no
    payload re-decode."""
    from dataengineering_spark.streaming.media_dedup import (
        repair_accumulated_pairs,
    )

    corpus = _image_corpus(spark)
    _drain(spark, tmp_path, corpus, dhash_images, "dhash", 64)
    cap = 2
    want_uncapped = {
        tuple(r) for r in _batch_pairs(corpus, dhash_images, "dhash", 64).collect()
    }
    want = {
        tuple(r)
        for r in simhash_neardup_pairs(
            dhash_images(corpus), max_distance=3, sim_col="dhash", bits=64,
            max_bucket_size=cap,
        ).collect()
    }
    assert want != want_uncapped, "cap must bind on the fixture"
    n = repair_accumulated_pairs(
        spark,
        index_dir=str(tmp_path / "index"),
        pairs_dir=str(tmp_path / "pairs"),
        max_bucket_size=cap,
        sim_col="dhash",
    )
    got = {
        tuple(r)
        for r in accumulated_media_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    assert got == want and n == len(want)


def test_video_stream_then_repair_equals_capped_batch(spark, tmp_path):
    from dataengineering_spark.functions.multimodal import video_frame_hashes
    from dataengineering_spark.operators.dedup import video_neardup_pairs
    from dataengineering_spark.streaming.media_dedup import (
        accumulated_video_pairs,
        repair_accumulated_video_pairs,
        video_neardup_batch_fn,
    )

    corpus = _video_corpus(spark)
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            corpus.filter(F.col("doc_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        video_neardup_batch_fn(
            index_dir=str(tmp_path / "index"),
            pairs_dir=str(tmp_path / "pairs"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    cap = 2
    fh = video_frame_hashes(corpus)
    want_uncapped = {tuple(r) for r in video_neardup_pairs(fh).collect()}
    want = {
        tuple(r)
        for r in video_neardup_pairs(fh, max_bucket_size=cap).collect()
    }
    assert want != want_uncapped, "per-slot cap must bind on the fixture"
    n = repair_accumulated_video_pairs(
        spark,
        index_dir=str(tmp_path / "index"),
        pairs_dir=str(tmp_path / "pairs"),
        max_bucket_size=cap,
    )
    got = {
        tuple(r)
        for r in accumulated_video_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    assert got == want and n == len(want)

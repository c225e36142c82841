"""Streaming perceptual media near-dup — the streaming face of the
image/audio fingerprint tier (``functions/multimodal.dhash_images`` /
``audio_fingerprints``), completing the modality coverage the text
tier's ``streaming/lsh.py`` and the embedding tier's
``streaming/semdedup.py`` established.

Shape: a persisted FINGERPRINT INDEX (parquet table of (doc_id, fp)
rows — 16 bytes per media object, the smallest possible dedup state)
plus a ``foreachBatch`` loop. Each micro-batch:

1. decodes the epoch's payloads through the Arrow-batched fingerprint
   lane ONCE (persisted for the epoch);
2. emits intra-batch pairs via the pigeonhole chunk self-join
   (``simhash_neardup_pairs`` — never all-pairs);
3. emits cross-batch pairs by joining the persisted index against the
   BROADCAST batch fingerprints (``simhash_neardup_cross_pairs``):
   the index is filtered map-side and never shuffles;
4. appends the batch fingerprints to the index.

Every media object belongs to exactly one epoch, so each (a, b) pair
surfaces exactly once — intra-batch if the docs share an epoch, else
cross-batch in the later doc's epoch. Accumulated pairs over a
drained stream therefore equal the batch fingerprint + chunk-join
pipeline over the whole corpus — proven stream==batch in
``tests/test_streaming_media_dedup.py``.

State posture at scale: the index grows with the corpus (inherent for
dedup-that-must-remember) but is 16 bytes/object in parquet, ~1.6 GB
per 100M media objects — scanned map-side-filtered per epoch, never
executor state-store memory. The DECODE cost dominates and is paid
once per object, at ingest, in the epoch it arrives.

Reference scope note: the reference has no media processing at all;
this module is part of the multimodal LLM-pipeline extension tier.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineering_spark.operators.dedup import (
    simhash_neardup_cross_pairs,
    simhash_neardup_pairs,
)
from dataengineering_spark.streaming.store import atomic_rewrite, path_exists


def media_neardup_batch_fn(
    hasher: Callable[[DataFrame], DataFrame],
    sim_col: str,
    bits: int,
    index_dir: str,
    pairs_dir: str,
    max_distance: int = 3,
    id_col: str = "doc_id",
):
    """Build the foreachBatch hook. ``hasher`` is one of the
    fingerprint lanes (``dhash_images`` -> sim_col='dhash', bits=64;
    ``audio_fingerprints`` -> sim_col='afp', bits=64) — any
    (id, fingerprint) producer with the pigeonhole bit contract works.

    Replay contract: both writes are appends of deterministic
    functions of the epoch's payloads, so foreachBatch replays
    re-append identical rows; accumulation readers apply
    ``distinct()`` — the streaming/lsh.py contract.

    Deliberately NOT exposed here: the batch lanes'
    ``max_bucket_size`` hot-bucket cap (r10). Capping is a function
    of WHOLE-CORPUS bucket sizes; an incremental index only sees a
    bucket's size as of each epoch, so an epoch-local cap would keep
    early pairs of a bucket that later crosses the cap — breaking
    this module's stream==batch equality, which is its core proof.
    Scale deployments that need the valve should run
    ``pigeonhole_bucket_stats`` over the accumulated index (it is the
    join key's own layout, O(#buckets)) and apply the cap in a batch
    re-pair pass, where its recall contract is exact —
    :func:`repair_accumulated_pairs` / :func:`repair_accumulated_video_pairs`
    implement that pass (r11), re-pairing from the 16 B/object index
    with no payload re-decode."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        fp = hasher(batch).persist()
        try:
            pairs = simhash_neardup_pairs(
                fp, max_distance=max_distance, id_col=id_col,
                sim_col=sim_col, bits=bits,
            )
            if path_exists(spark, index_dir):
                index = spark.read.schema(
                    f"`{id_col}` long, `{sim_col}` long"
                ).parquet(index_dir)
                pairs = pairs.unionByName(
                    simhash_neardup_cross_pairs(
                        index, fp, max_distance=max_distance,
                        id_col=id_col, sim_col=sim_col, bits=bits,
                    )
                )
            pairs.distinct().write.mode("append").parquet(pairs_dir)
            fp.write.mode("append").parquet(index_dir)
        finally:
            fp.unpersist()

    return batch_fn


def accumulated_media_pairs(spark, pairs_dir: str) -> DataFrame:
    """Distinct accumulated (doc_a, doc_b, hamming) pairs — the replay
    dedup the append contract requires."""
    return (
        spark.read.schema("doc_a long, doc_b long, hamming int")
        .parquet(pairs_dir)
        .distinct()
    )


def repair_accumulated_pairs(
    spark,
    index_dir: str,
    pairs_dir: str,
    max_bucket_size: int,
    sim_col: str,
    bits: int = 64,
    max_distance: int = 3,
    id_col: str = "doc_id",
) -> int:
    """Batch re-pair pass for a capped ACCUMULATED index — the
    documented companion to the epoch loop's deliberate cap exclusion
    (see ``media_neardup_batch_fn``): the hot-bucket cap is a function
    of whole-corpus bucket sizes, so it can only be applied where the
    whole corpus is visible. This reruns the pigeonhole chunk join
    over the accumulated fingerprint index (16 B/object — NO payload
    re-decode; the expensive lane was paid at ingest) with
    ``max_bucket_size``, and REWRITES the pairs store to exactly the
    capped-batch pair set. Returns the rewritten pair count.

    Price before running: ``pigeonhole_bucket_stats`` over the same
    index reports exactly what the cap forfeits (O(#buckets)), and
    ``require_survivor_budget`` + ``sample_verify_rate`` bound the
    survivor volume this pass will materialize. The pairs store is
    derived state — recomputable from the index — and the rewrite is
    atomic (streaming/store.py tmp + rename, r13): a crash at any
    point leaves the old pair set or the new one, never a partial."""
    index = (
        spark.read.schema(f"`{id_col}` long, `{sim_col}` long")
        .parquet(index_dir)
        .distinct()  # foreachBatch replays re-append identical rows
    )
    pairs = simhash_neardup_pairs(
        index, max_distance=max_distance, id_col=id_col, sim_col=sim_col,
        bits=bits, max_bucket_size=max_bucket_size,
    ).persist()
    try:
        n = pairs.count()  # materialize before touching the store
        atomic_rewrite(spark, pairs, pairs_dir)
    finally:
        pairs.unpersist()
    return n


def repair_accumulated_video_pairs(
    spark,
    index_dir: str,
    pairs_dir: str,
    max_bucket_size: int,
    max_distance: int = 3,
    min_matching: int = 3,
    id_col: str = "doc_id",
) -> int:
    """Video-lane :func:`repair_accumulated_pairs`: re-pairs the
    accumulated (doc_id, slot, dhash) frame-hash index with the
    per-(slot, chunk, value) hot-bucket cap and atomically rewrites
    the pairs store to the capped-batch (doc_a, doc_b, n_match) set."""
    from dataengineering_spark.operators.dedup import video_neardup_pairs
    index = (
        spark.read.schema(f"`{id_col}` long, slot int, dhash long")
        .parquet(index_dir)
        .distinct()
    )
    pairs = video_neardup_pairs(
        index, max_distance=max_distance, min_matching=min_matching,
        id_col=id_col, max_bucket_size=max_bucket_size,
    ).persist()
    try:
        n = pairs.count()
        atomic_rewrite(spark, pairs, pairs_dir)
    finally:
        pairs.unpersist()
    return n


def video_neardup_batch_fn(
    index_dir: str,
    pairs_dir: str,
    n_samples: int = 4,
    max_distance: int = 3,
    min_matching: int = 3,
    id_col: str = "doc_id",
    payload_col: str = "payload",
):
    """foreachBatch hook for the VIDEO modality — the image/audio
    incremental loop with a per-video frame-hash SET as state
    (``n_samples`` longs per video instead of one): the epoch's
    payloads run the sampled-frame decode lane once, intra-batch
    pairs come from the slot-aligned pigeonhole self-join
    (``video_neardup_pairs``), cross-batch pairs from the broadcast
    join against the persisted frame-hash index
    (``video_neardup_cross_pairs``), then the epoch's hashes append to
    the index. Same exactly-once shape as media_neardup_batch_fn: a
    video's whole fingerprint lands in its one epoch, so every pair
    surfaces exactly once and accumulated pairs equal the batch plan
    (distinct() on read absorbs foreachBatch replays)."""
    from dataengineering_spark.functions.multimodal import video_frame_hashes
    from dataengineering_spark.operators.dedup import (
        video_neardup_cross_pairs,
        video_neardup_pairs,
    )

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        fh = video_frame_hashes(
            batch, n_samples=n_samples, id_col=id_col, payload_col=payload_col
        ).persist()
        try:
            pairs = video_neardup_pairs(
                fh, max_distance=max_distance, min_matching=min_matching,
                id_col=id_col,
            )
            if path_exists(spark, index_dir):
                index = spark.read.schema(
                    f"`{id_col}` long, slot int, dhash long"
                ).parquet(index_dir)
                pairs = pairs.unionByName(
                    video_neardup_cross_pairs(
                        index, fh, max_distance=max_distance,
                        min_matching=min_matching, id_col=id_col,
                    )
                )
            pairs.distinct().write.mode("append").parquet(pairs_dir)
            fh.write.mode("append").parquet(index_dir)
        finally:
            fh.unpersist()

    return batch_fn


def accumulated_video_pairs(spark, pairs_dir: str) -> DataFrame:
    """Distinct accumulated (doc_a, doc_b, n_match) video pairs."""
    return (
        spark.read.schema("doc_a long, doc_b long, n_match int")
        .parquet(pairs_dir)
        .distinct()
    )

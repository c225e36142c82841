"""Streaming perceptual media near-dup — the streaming face of the
image/audio fingerprint tier (``functions/multimodal.dhash_images`` /
``audio_fingerprints``), completing the modality coverage the text
tier's ``streaming/lsh.py`` and the embedding tier's
``streaming/semdedup.py`` established.

Shape: a persisted FINGERPRINT INDEX (parquet table of (doc_id, fp)
rows — 16 bytes per media object, the smallest possible dedup state)
bound to :class:`~dataengineering_spark.streaming.store.IndexLane`:
the epoch's payloads run the Arrow-batched fingerprint lane ONCE,
intra-epoch pairs come from the pigeonhole chunk self-join
(``simhash_neardup_pairs`` — never all-pairs), cross-epoch pairs from
the index joined against the BROADCAST batch fingerprints
(``simhash_neardup_cross_pairs``).

Accumulated pairs over a drained stream equal the batch fingerprint
+ chunk-join pipeline over the whole corpus — proven stream==batch in
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

from dataengineering_spark.operators.dedup import (
    simhash_neardup_cross_pairs,
    simhash_neardup_pairs,
    video_neardup_cross_pairs,
    video_neardup_pairs,
)
from dataengineering_spark.streaming.store import IndexLane, read_store


def media_lane(
    hasher: Callable[[DataFrame], DataFrame],
    sim_col: str,
    bits: int,
    max_distance: int = 3,
    id_col: str = "doc_id",
) -> IndexLane:
    """The (id, fingerprint) index of one ``hasher`` as an
    :class:`IndexLane`."""
    kw = dict(max_distance=max_distance, id_col=id_col, sim_col=sim_col,
              bits=bits)
    return IndexLane(
        keys_fn=hasher,
        intra_fn=lambda fp: simhash_neardup_pairs(fp, **kw),
        cross_fn=lambda index, fp: simhash_neardup_cross_pairs(index, fp, **kw),
        index_schema=f"`{id_col}` long, `{sim_col}` long",
    )


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
    return media_lane(hasher, sim_col, bits, max_distance, id_col).batch_fn(
        index_dir, pairs_dir
    )


def accumulated_media_pairs(spark, pairs_dir: str) -> DataFrame:
    """Accumulated (doc_a, doc_b, hamming) pairs."""
    return read_store(spark, pairs_dir, "doc_a long, doc_b long, hamming int")


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
    survivor volume this pass will materialize. The rewrite is
    :meth:`~dataengineering_spark.streaming.store.IndexLane.repair`."""
    return media_lane(None, sim_col, bits, max_distance, id_col).repair(
        spark, index_dir, pairs_dir,
        lambda index: simhash_neardup_pairs(
            index, max_distance=max_distance, id_col=id_col, sim_col=sim_col,
            bits=bits, max_bucket_size=max_bucket_size,
        ),
    )


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
    return video_lane(
        max_distance=max_distance, min_matching=min_matching, id_col=id_col
    ).repair(
        spark, index_dir, pairs_dir,
        lambda index: video_neardup_pairs(
            index, max_distance=max_distance, min_matching=min_matching,
            id_col=id_col, max_bucket_size=max_bucket_size,
        ),
    )


def video_lane(
    n_samples: int = 4,
    max_distance: int = 3,
    min_matching: int = 3,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> IndexLane:
    """The (doc_id, slot, dhash) frame-hash index as an
    :class:`IndexLane`."""
    from dataengineering_spark.functions.multimodal import video_frame_hashes

    kw = dict(max_distance=max_distance, min_matching=min_matching,
              id_col=id_col)
    return IndexLane(
        keys_fn=lambda batch: video_frame_hashes(
            batch, n_samples=n_samples, id_col=id_col, payload_col=payload_col
        ),
        intra_fn=lambda fh: video_neardup_pairs(fh, **kw),
        cross_fn=lambda index, fh: video_neardup_cross_pairs(index, fh, **kw),
        index_schema=f"`{id_col}` long, slot int, dhash long",
    )


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
    lane with a per-video frame-hash SET as state (``n_samples`` longs
    per video instead of one), paired by the slot-aligned pigeonhole
    joins (``video_neardup_pairs`` / ``video_neardup_cross_pairs``).
    A video's whole fingerprint lands in its one epoch, so
    accumulated pairs equal the batch plan."""
    return video_lane(
        n_samples, max_distance, min_matching, id_col, payload_col
    ).batch_fn(index_dir, pairs_dir)


def accumulated_video_pairs(spark, pairs_dir: str) -> DataFrame:
    """Accumulated (doc_a, doc_b, n_match) video pairs."""
    return read_store(spark, pairs_dir, "doc_a long, doc_b long, n_match int")

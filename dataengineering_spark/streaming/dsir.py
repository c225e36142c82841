"""Streaming DSIR — the live face of the batch importance-weight
query (``plans/queries_curation.q_dsir_weights``).

A continuous ingest wants importance weights that reflect the corpus
SO FAR without re-featurizing everything ever ingested. The DSIR
model's sufficient statistic — per-bucket (raw_cnt, tgt_cnt) bigram
counts — is MERGEABLE, so the stream stores one tiny PARTIAL frame
per micro-batch: (bucket, raw_cnt, tgt_cnt), an O(B) hash aggregate of
just that epoch (B = 64 buckets). The snapshot reader folds partials
into full-corpus counts; scoring any document set against the folded
counts runs the batch tier's own ``dsir_scores`` — so stream == batch
is provable on exact integers (score_fp is a BIGINT fixed-point sum,
not a tolerance compare).

State is O(epochs × B), never O(docs); ``compact_dsir_partials``
folds it back to O(B). The epoch store and its replay contract are the
shared :class:`~dataengineering_spark.streaming.store.PartialsLane`.

This module reuses the batch tier's ``dsir_bucket_frame`` /
``dsir_bucket_counts`` / ``dsir_scores`` verbatim — the stream never
re-implements the feature extraction, which is what makes the
equality proof a test instead of a hope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.plans.queries_curation import (
    dsir_bucket_counts,
    dsir_bucket_frame,
    dsir_scores,
)
from dataengineering_spark.streaming.store import PartialsLane


def _fold(partials: DataFrame) -> DataFrame:
    return partials.groupBy("bucket").agg(
        F.sum("raw_cnt").alias("raw_cnt"),
        F.sum("tgt_cnt").alias("tgt_cnt"),
    )


_LANE = PartialsLane(
    lambda batch: dsir_bucket_counts(dsir_bucket_frame(batch)), _fold
)
dsir_partials_batch_fn = _LANE.batch_fn
compact_dsir_partials = _LANE.compact


def dsir_counts_snapshot(spark: SparkSession, partials_path: str) -> DataFrame:
    """Fold accumulated partials into full-corpus bucket counts —
    integer-identical to ``dsir_bucket_counts`` over the drained
    corpus."""
    return _LANE.snapshot(spark, partials_path)


def dsir_score_against_snapshot(
    spark: SparkSession, docs: DataFrame, partials_path: str
) -> DataFrame:
    """Score ``docs`` against the streamed corpus model — the serve
    path. Scoring the drained corpus itself reproduces the batch
    ``dsir_weights`` output bit-for-bit (test_streaming_dsir)."""
    from dataengineering_spark.caching import persist_tracked

    bib = persist_tracked(dsir_bucket_frame(docs))
    return dsir_scores(docs, bib, dsir_counts_snapshot(spark, partials_path))

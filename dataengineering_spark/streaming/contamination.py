"""Streaming decontamination gate — the streaming face of the batch
contamination check (``operators/contamination.benchmark_overlap``):
a live ingest must quarantine benchmark-contaminated documents BEFORE
they reach the training sink, not in a nightly sweep after.

Shape: the benchmark n-gram set is STATIC and tiny next to any corpus
(the same premise the batch operator builds on), so the gate is a
stateless per-epoch classify-and-route — the simplest rung of the
streaming ladder, and deliberately so: no index, no watermark, and
both sinks are epoch stores (streaming/store.py). Each micro-batch:

1. runs the batch tier's own ``benchmark_overlap`` against the
   benchmark frame (broadcast map-side, only hits shuffle);
2. writes hit rows (doc_id, hit_ngrams, bench_items) to the
   quarantine sink — the evidence a contamination audit reads;
3. writes the non-hit documents to the clean sink — what training
   actually consumes.

Every document lands in exactly one sink, and classification depends
only on (document, benchmark) — never on arrival order or epoch
boundaries — so the drained stream's sinks equal the batch
``benchmark_overlap`` split exactly (tests/test_streaming_contamination).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataengineering_spark.operators.contamination import benchmark_overlap
from dataengineering_spark.streaming.store import read_store, write_epoch


def decontaminate_batch_fn(
    benchmark: DataFrame,
    clean_dir: str,
    quarantine_dir: str,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Build the foreachBatch router. ``benchmark`` is a static
    (item_id, text) frame — reused across epochs, broadcast by the
    batch operator's join."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        hits = benchmark_overlap(
            batch, benchmark, n=n, id_col=id_col, text_col=text_col
        ).persist()
        try:
            write_epoch(hits, quarantine_dir, epoch_id)
            clean = batch.join(hits.select(id_col), id_col, "left_anti")
            write_epoch(clean, clean_dir, epoch_id)
        finally:
            hits.unpersist()

    return batch_fn


def quarantined(spark: SparkSession, quarantine_dir: str) -> DataFrame:
    """Accumulated quarantine rows from a drained stream."""
    return read_store(
        spark, quarantine_dir, "doc_id long, hit_ngrams long, bench_items long"
    )

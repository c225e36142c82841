"""Streaming token-budget sharding — the streaming face of the batch
shard assigner (``operators/chunking.token_budget_shards``): a live
ingest packs arriving documents into fixed-token training shards
WITHOUT re-sharding everything ever ingested.

This rung carries genuine CONTINUATION STATE, unlike the mergeable-
partials gauges (corpus/dsir/abtest) and the grow-only indexes
(lsh/semdedup): shard boundaries depend on the exclusive running
token total, so epoch k+1 cannot be assigned without knowing where
epoch k ended. That total is not kept anywhere: it is re-derived
from the assignment store itself, the rule the sync watermark follows
(commit what landed):

- epoch k is skipped when the store already holds k or a later epoch
  (a foreachBatch REPLAY: ``write_epoch`` would write nothing);
- otherwise ``base`` = ``min(cum_before) + sum(size)`` over the rows of
  the highest epoch the store holds, 0 for an empty store. An
  epoch's first row has the smallest ``cum_before`` (sizes are token
  counts, never negative), equal to that epoch's base, so this is
  exact for any epoch size, and the read is pruned to one epoch
  partition;
- the batch tier's ``token_budget_shards`` runs on just the epoch
  (its internal RangePartitioner prefix-sum machinery unchanged),
  ``cum_before`` is shifted by ``base``, ``seq_id``/``offset_in_seq``
  are re-derived with the batch expressions verbatim, and the rows
  land as epoch k (streaming/store.py).

Stream == batch holds when epochs arrive as contiguous,
non-interleaved ``order_col`` blocks — exactly the log-ingestion
contract a shard packer runs under (the batch assigner itself is
order-defined; out-of-order arrival is a DIFFERENT operator: a
re-shard compaction). The proof test drains doc_id-range epochs and
compares row-for-row against one batch call on the whole corpus.

State posture at scale: no state beyond the store; the per-epoch
Spark work is the batch operator on the epoch alone plus one
aggregate over the previous epoch's partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.operators.chunking import token_budget_shards
from dataengineering_spark.streaming.store import (
    EPOCH_COL,
    _mark,
    read_store,
    write_epoch,
)


def token_shards_batch_fn(
    out_dir: str,
    size_col: str,
    order_col: str,
    budget: int,
):
    """foreachBatch hook: assign the epoch's documents to budget
    shards continuing from the token total already in ``out_dir``."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        mark = _mark(spark, out_dir)
        if mark >= int(epoch_id) or not batch.take(1):
            return
        from dataengineering_spark.caching import tracking_scope

        base = 0
        if mark >= 0:
            base = (
                spark.read.parquet(out_dir)
                .where(F.col(EPOCH_COL) == mark)
                .agg(F.min("cum_before") + F.sum(F.coalesce(size_col, F.lit(0))))
                .collect()[0][0]
            )
        # scope, not release_tracked(): the global release would
        # unpersist every session-tracked frame, including OTHER
        # pipelines' RangePartitioner-stability persists mid-query
        with tracking_scope():
            local = token_budget_shards(batch, size_col, order_col, budget)
            shifted = (
                local.withColumn(
                    "cum_before",
                    (F.col("cum_before") + F.lit(int(base))).cast("long"),
                )
                .withColumn("seq_id", F.expr(f"cum_before DIV {budget}"))
                .withColumn("offset_in_seq", F.col("cum_before") % budget)
            )
            write_epoch(shifted, out_dir, epoch_id)

    return batch_fn


def accumulated_shards(spark: SparkSession, out_dir: str) -> DataFrame:
    """Accumulated shard assignments from a drained stream."""
    return read_store(spark, out_dir)

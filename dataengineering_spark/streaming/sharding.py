"""Streaming token-budget sharding — the streaming face of the batch
shard assigner (``operators/chunking.token_budget_shards``): a live
ingest packs arriving documents into fixed-token training shards
WITHOUT re-sharding everything ever ingested.

This rung carries genuine CONTINUATION STATE, unlike the mergeable-
partials gauges (corpus/dsir/abtest) and the grow-only indexes
(lsh/semdedup): shard boundaries depend on the exclusive running
token total, so epoch k+1 cannot be assigned without knowing where
epoch k ended. The state is one BIGINT — the corpus token total so
far — kept in an EPOCH-KEYED atomic JSON log (tmp+rename, the
``streaming/state.SyncStateStore`` discipline):

- epoch k reads ``base`` = its own log entry if present (a
  foreachBatch REPLAY — it must reproduce, not advance), else the
  latest entry below k;
- runs the batch tier's ``token_budget_shards`` on just the epoch
  (its internal RangePartitioner prefix-sum machinery unchanged),
  shifts ``cum_before`` by ``base``, and re-derives
  ``seq_id``/``offset_in_seq`` with the batch expressions verbatim;
- appends the assignment rows and commits ``base + epoch_total``
  under key k — idempotent on replay because the recomputed value is
  identical.

Stream == batch holds when epochs arrive as contiguous,
non-interleaved ``order_col`` blocks — exactly the log-ingestion
contract a shard packer runs under (the batch assigner itself is
order-defined; out-of-order arrival is a DIFFERENT operator: a
re-shard compaction). The proof test drains doc_id-range epochs and
compares row-for-row against one batch call on the whole corpus.

State posture at scale: O(1) state per epoch (one integer), O(epochs)
log files until compaction; the per-epoch Spark work is the batch
operator on the epoch alone.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.operators.chunking import token_budget_shards


def _state_dir(root: str) -> str:
    os.makedirs(root, exist_ok=True)
    return root


def _read_base(state_root: str, epoch_id: int) -> int:
    """base for this epoch: own entry on replay, else the newest entry
    strictly below — epochs are delivered in order by the engine, so
    'below' is the predecessor."""
    d = _state_dir(state_root)
    own = os.path.join(d, f"{epoch_id:010d}.json")
    if os.path.exists(own):
        with open(own) as f:
            return int(json.load(f)["base_before"])
    prior = sorted(
        int(f[:-5]) for f in os.listdir(d)
        if f.endswith(".json") and f[:-5].isdigit() and int(f[:-5]) < epoch_id
    )
    if not prior:
        return 0
    with open(os.path.join(d, f"{prior[-1]:010d}.json")) as f:
        s = json.load(f)
    return int(s["base_before"]) + int(s["epoch_total"])


def _commit(state_root: str, epoch_id: int, base: int, total: int) -> None:
    path = os.path.join(_state_dir(state_root), f"{epoch_id:010d}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"base_before": base, "epoch_total": total}, f)
    os.replace(tmp, path)


def token_shards_batch_fn(
    state_root: str,
    out_dir: str,
    size_col: str,
    order_col: str,
    budget: int,
):
    """foreachBatch hook: assign the epoch's documents to budget
    shards continuing from the carried token total."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        from dataengineering_spark.caching import tracking_scope

        base = _read_base(state_root, int(epoch_id))
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
            shifted.write.mode("append").parquet(out_dir)
            total = batch.agg(F.sum(size_col)).collect()[0][0] or 0
        _commit(state_root, int(epoch_id), int(base), int(total))

    return batch_fn


def accumulated_shards(spark: SparkSession, out_dir: str) -> DataFrame:
    """Distinct accumulated shard assignments from a drained stream."""
    return spark.read.parquet(out_dir).distinct()

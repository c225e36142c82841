"""The reference's full sync loop as ONE Structured-Streaming pipeline
(reference ``airflow/bitquery.py:208-351`` → the per-batch transform at
``clickhouse/v1/operator.py:440-499``):

    rate-limited block-range source  →  per-epoch transform (full
    DataFrame API: windows, broadcast joins, scaling)  →  multi-sink
    fan-out  →  watermark committed FROM THE DESTINATION.

Each piece exists standalone (``rate_limited.block_range_stream``,
``structured.run_foreach_batch``, ``state.SyncStateStore``); this
module is the wired composition — the streaming equivalent of
``runner.IncrementalSyncRunner.run_to_head`` with the engine's
checkpoint (plus the reader's cursor file) replacing the scheduler's
re-invocation loop.

Scale shape: the source negotiates offsets against parquet footer
statistics on the driver and ships rows as Arrow batches; the
transform runs distributed per epoch with dimension joins broadcast;
the commit reads one MAX from the destination (footer statistics
again when the sink is parquet). Nothing funnels through the driver
but bounded offsets and one scalar per epoch.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from dataengineering_spark.streaming.rate_limited import block_range_stream
from dataengineering_spark.streaming.state import (
    SyncStateStore,
    commit_from_destination,
)
from dataengineering_spark.streaming.structured import run_foreach_batch


def streaming_sync_pipeline(
    spark: SparkSession,
    source_path: str,
    transform: Callable[[DataFrame], DataFrame],
    sinks: Sequence[Callable[[DataFrame, int], None]],
    store: SyncStateStore,
    stream_name: str,
    destination_max: Callable[[], int | None],
    checkpoint_dir: str,
    offset_col: str = "block",
    max_offsets_per_trigger: int = 100_000,
    streaming_lag: int = 0,
    range_splits: int = 8,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Start the wired loop. Per epoch: ``transform`` runs once over
    the clamped block range (persisted so the fan-out reads one
    materialization, not one recompute per sink), every sink in
    ``sinks`` gets the transformed frame, then the watermark is
    committed from ``destination_max()``.

    ``trigger_once=True`` drains exactly one clamped range per call —
    the reference's scheduler-tick model; ``False`` drains the whole
    backlog continuously in clamped steps. Restarts resume from the
    engine checkpoint, with the reader's cursor file (kept inside
    ``checkpoint_dir``) keeping the very first clamp of a fresh run
    aligned with the last committed offset.
    """
    os.makedirs(checkpoint_dir, exist_ok=True)
    stream = block_range_stream(
        spark,
        source_path,
        offset_col=offset_col,
        max_offsets_per_trigger=max_offsets_per_trigger,
        streaming_lag=streaming_lag,
        range_splits=range_splits,
        cursor_path=os.path.join(checkpoint_dir, "_block_cursor"),
    )

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        out = transform(batch).persist()
        try:
            for sink in sinks:
                sink(out, epoch_id)
        finally:
            out.unpersist()
        commit_from_destination(store, stream_name, destination_max)

    return run_foreach_batch(stream, batch_fn, checkpoint_dir, trigger_once)

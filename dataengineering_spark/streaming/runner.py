"""Incremental micro-batch sync runner (SURVEY.md §2.9 T2-T7, §3.3).

Reproduces the reference's hand-built sync loop as an engine
component with Structured-Streaming semantics:

1. ``check_sync_status`` — take the source head, hold back
   ``streaming_lag`` blocks (the unstable head-of-chain), clamp to
   ``batch_size`` (≙ maxOffsetsPerTrigger), gate on progress
   (``airflow/bitquery.py:208-285``). Outside a drain every call
   probes the head. Inside ``run_to_head`` the head is drain-scoped,
   like ``Trigger.AvailableNow``'s fixed target offset: the first
   batch probes it, later batches reuse it, and only a batch that
   finds the watermark at ``head - streaming_lag`` probes again — to
   follow a head that moved during the drain, or to end the drain.
2. run the user's batch transform over exactly the proposed
   ``(last_synced, latest]`` range and fan it out to sinks
   (``clickhouse/v1/operator.py:440-499``).
3. ``commit_from_destination`` — re-derive the committed watermark
   from what actually LANDED in the destination, not what was
   attempted (``airflow/bitquery.py:288-351``). A batch that dies
   mid-write self-heals on re-run: the destination max is whatever
   made it durable, so the next range re-covers the gap. Sinks must
   therefore be idempotent per range — which flush_partitions /
   dynamic partition overwrite provides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.streaming import state as sync_state
from dataengineering_spark.streaming.state import SyncState, SyncStateStore


@dataclass
class SyncConfig:
    """Knobs mirroring the reference's Variable-driven parameters
    (``airflow/bitquery.py:252-259``)."""

    stream: str
    offset_col: str = "block"
    batch_size: int = 100_000
    streaming_lag: int = 0


@dataclass
class SyncRange:
    last_synced: int
    latest: int

    @property
    def should_run(self) -> bool:
        """ShortCircuit gate (``airflow/bitquery.py:271-285``)."""
        return self.latest > self.last_synced


class IncrementalSyncRunner:
    def __init__(self, spark: SparkSession, store: SyncStateStore, config: SyncConfig):
        self.spark = spark
        self.store = store
        self.config = config
        # the head run_to_head drains to; None outside a drain
        self._drain_head: float | None = None
        # the stream's state as of this runner's last check or commit;
        # the commit builds on it instead of re-reading the store
        self._state: SyncState | None = None

    # -- T2: offset negotiation -----------------------------------------

    def _probe_head(self, source: DataFrame) -> int:
        """Max offset in the source, -1 when it is empty: one scalar
        collect. Under the V1 parquet reader this is a Spark job that
        scans the offset column; it does not read footer statistics."""
        head = source.agg(F.max(self.config.offset_col)).collect()[0][0]
        return -1 if head is None else head

    def check_sync_status(self, source: DataFrame) -> SyncRange:
        self._state = self.store.get(self.config.stream)
        last = self._state.last_synced_block
        head = self._drain_head
        if head is None or last >= head - self.config.streaming_lag:
            head = self._probe_head(source)
            if self._drain_head is not None:
                self._drain_head = head
        capped = min(last + self.config.batch_size, head - self.config.streaming_lag)
        return SyncRange(last_synced=last, latest=capped)

    def lag_gauge(self, source: DataFrame) -> DataFrame:
        """One-row metrics frame — the reportLatestOffset-style gauge
        a monitoring sink scrapes: how far behind the head this stream
        is and how many batch_size triggers the backlog represents.
        Union rows across runners for a fleet dashboard; write with
        any sink.  The gauge probes the head on every call, also
        during a drain, so it stays live.

        Columns: stream, last_synced, head, effective_head (head minus
        the held-back streaming_lag), lag_blocks (0 when fully
        drained), backlog_batches (ceil(lag / batch_size))."""
        state = self.store.get(self.config.stream)
        head = self._probe_head(source)
        effective = head - self.config.streaming_lag
        lag = max(0, effective - state.last_synced_block)
        backlog = -(-lag // self.config.batch_size)
        return self.spark.createDataFrame(
            [
                (
                    self.config.stream,
                    state.last_synced_block,
                    head,
                    effective,
                    lag,
                    backlog,
                )
            ],
            schema=(
                "stream string, last_synced bigint, head bigint, "
                "effective_head bigint, lag_blocks bigint, backlog_batches bigint"
            ),
        )

    # -- T5/T6: one micro-batch -----------------------------------------

    def select_range(self, source: DataFrame, rng: SyncRange) -> DataFrame:
        """Exactly the reference's half-open range predicate
        ``block > last AND block <= latest``
        (``airflow/bitquery.py:68-71``) — pushed down to the scan."""
        c = F.col(self.config.offset_col)
        return source.filter((c > rng.last_synced) & (c <= rng.latest))

    def run_once(
        self,
        source: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        sink: Callable[[DataFrame], None],
        destination_max: Callable[[], int | None],
    ) -> SyncRange | None:
        """One micro-batch: negotiate range → transform → sink →
        commit-from-destination. Returns the processed range, or None
        when the gate short-circuits."""
        rng = self.check_sync_status(source)
        if not rng.should_run:
            return None
        batch = self.select_range(source, rng)
        sink(transform(batch))
        self.commit_from_destination(destination_max)
        return rng

    # -- T3: destination-derived commit ---------------------------------

    def commit_from_destination(self, destination_max: Callable[[], int | None]) -> SyncState:
        """Commit what landed, not what was attempted (reference
        ``set_latest_block``, ``airflow/bitquery.py:288-351``), on top
        of the state the last check read."""
        prev = self._state or self.store.get(self.config.stream)
        self._state = sync_state.commit_from_destination(
            self.store, self.config.stream, prev, destination_max()
        )
        return self._state

    # -- drain loop ------------------------------------------------------

    def run_to_head(
        self,
        source: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        sink: Callable[[DataFrame], None],
        destination_max: Callable[[], int | None],
        max_batches: int = 1000,
    ) -> list[SyncRange]:
        """Drain the backlog in batch_size steps — the equivalent of
        repeated scheduler runs of the reference DAG.

        The first batch probes the head and later batches reuse it.
        Once the committed watermark reaches ``head - streaming_lag``,
        the next batch probes again: a head that moved is drained
        too, an unmoved one ends the drain. A batch that leaves the
        watermark where it was raises instead of re-running its
        range."""
        done: list[SyncRange] = []
        self._drain_head = float("-inf")  # counts as reached: batch 1 probes
        try:
            for _ in range(max_batches):
                rng = self.run_once(source, transform, sink, destination_max)
                if rng is None:
                    break
                done.append(rng)
                if self._state.last_synced_block == rng.last_synced:
                    raise RuntimeError(
                        f"sync of {self.config.stream!r} stalled: batch "
                        f"({rng.last_synced}, {rng.latest}] did not move the "
                        "committed watermark, so the next batch would re-run it"
                    )
        finally:
            self._drain_head = None
        return done

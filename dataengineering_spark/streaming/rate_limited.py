"""Rate-limited block-range streaming source (SURVEY.md §2.9 T2/T4).

The reference's sync loop advances through a monotone block column in
clamped steps: at most ``batch_size`` blocks per run, never closer
than ``streaming_lag`` to the source head (``airflow/bitquery.py:
252-285``). The batch-mode face of that contract is
``IncrementalSyncRunner``; this module is the Structured-Streaming
face — a PySpark Python DataSource whose ``latestOffset`` applies the
same clamp, so ``readStream`` triggers consume the backlog in bounded
per-trigger ranges exactly like Kafka's ``maxOffsetsPerTrigger``.

Scale shape: offset negotiation happens on the driver against parquet
row-group STATISTICS (no data scan — the head probe reads footers
only, with a column-scan fallback); each trigger's range is split into
``rangeSplits`` input partitions read in parallel on executors via
pyarrow dataset scans that push the half-open range predicate down to
row-group pruning, and rows travel as Arrow RecordBatches (no
per-row Python cost).

Trigger semantics (observed on PySpark 4.x): with
``trigger(availableNow=True)`` the engine drains up to the FIRST
``latestOffset`` result and stops — i.e. exactly one clamped range per
query start, which is precisely the reference's scheduler-tick model
(each DAG run advances one ``batch_size`` step; restart resumes from
the checkpoint). Use ``trigger(processingTime=...)`` to drain the
backlog continuously in clamped steps within one query.

Options (all strings, per the DataSource API):
- ``path``              parquet file/directory of the source table
- ``offsetCol``         monotone block column (default ``block``)
- ``maxOffsetsPerTrigger``  clamp per trigger (default 100000)
- ``streamingLag``      blocks held back from head (default 0)
- ``startOffset``       exclusive start (default -1: from the origin)
- ``rangeSplits``       input partitions per trigger (default 8)
- ``cursorPath``        optional ``SyncStateStore`` root the reader
  commits its offset to on ``commit`` and restores it from on
  construction. Without it, a checkpoint restart builds a fresh reader
  whose FIRST ``latestOffset`` runs before ``partitions()`` can heal
  the cursor from the engine's start, so the first clamp is computed
  from ``startOffset`` — an ``availableNow`` restart then drains
  nothing for that run (one ``latestOffset`` per start), and a
  ``processingTime`` restart wastes its first trigger. Point this at a
  directory next to the engine's checkpointLocation to make restarts
  resume exactly where the last commit left off.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from dataengineering_spark.streaming.state import SyncState, SyncStateStore

# the stream name the reader's cursor is committed under
_CURSOR_STREAM = "cursor"


class BlockRangePartition(InputPartition):
    def __init__(self, path: str, offset_col: str, start: int, end: int,
                 columns: list[str]):
        self.path = path
        self.offset_col = offset_col
        self.start = start  # exclusive
        self.end = end  # inclusive
        self.columns = columns


def _head_block(path: str, offset_col: str) -> int | None:
    """Max of the offset column. Fast path: parquet row-group
    statistics from the footers; fallback: scan just that column."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")
    head: int | None = None
    stats_ok = True
    for frag in dataset.get_fragments():
        frag.ensure_complete_metadata()
        for rg in frag.row_groups:
            st = rg.statistics or {}
            mx = (st.get(offset_col) or {}).get("max")
            if mx is None:
                stats_ok = False
                break
            head = mx if head is None else max(head, mx)
        if not stats_ok:
            break
    if stats_ok:
        return int(head) if head is not None else None
    import pyarrow.compute as pc

    col = dataset.to_table(columns=[offset_col])[offset_col]
    if len(col) == 0:
        return None
    return int(pc.max(col).as_py())


class BlockRangeStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.path = options["path"]
        self.offset_col = options.get("offsetcol", "block")
        self.max_per_trigger = int(options.get("maxoffsetspertrigger", 100_000))
        self.lag = int(options.get("streaminglag", 0))
        self.start = int(options.get("startoffset", -1))
        self.n_splits = max(1, int(options.get("rangesplits", 8)))
        self.columns = [f.name for f in schema.fields]
        self.cursor_path = options.get("cursorpath")
        self._current: int | None = self._restore_cursor()

    def _restore_cursor(self) -> int | None:
        """Heal the driver-side cursor across query restarts: the first
        ``latestOffset`` of a fresh reader runs before ``partitions()``
        ever shows us the engine's checkpointed start, so without this
        the first clamp would regress to ``startOffset``."""
        if not self.cursor_path:
            return None
        state = SyncStateStore(self.cursor_path).get(_CURSOR_STREAM)
        return None if state == SyncState.initial() else state.last_synced_block

    def _persist_cursor(self, offset: int) -> None:
        if self.cursor_path:
            state = replace(SyncState.initial(), last_synced_block=offset,
                            latest_block=offset)
            SyncStateStore(self.cursor_path).commit(_CURSOR_STREAM, state)

    def initialOffset(self) -> dict:
        return {"block": self.start}

    def latestOffset(self) -> dict:
        """The reference's clamp, verbatim:
        ``min(last + batch_size, head - lag)`` — never regressing."""
        last = self._current if self._current is not None else self.start
        head = _head_block(self.path, self.offset_col)
        if head is None:
            return {"block": last}
        capped = min(last + self.max_per_trigger, head - self.lag)
        nxt = max(last, capped)
        self._current = nxt
        return {"block": nxt}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[BlockRangePartition]:
        s, e = int(start["block"]), int(end["block"])
        # Heal the driver-side cursor after a checkpoint restart: the
        # engine's start is authoritative.
        if self._current is None or self._current < s:
            self._current = s
        if e <= s:
            return [BlockRangePartition(self.path, self.offset_col, s, e,
                                        self.columns)]
        span = e - s
        n = min(self.n_splits, span)
        step = span // n
        bounds = [s + step * i for i in range(n)] + [e]
        return [
            BlockRangePartition(self.path, self.offset_col, bounds[i],
                                bounds[i + 1], self.columns)
            for i in range(n)
            if bounds[i + 1] > bounds[i]
        ]

    def read(self, partition: BlockRangePartition) -> Iterator:
        import pyarrow.dataset as ds

        if partition.end <= partition.start:
            return
        dataset = ds.dataset(partition.path, format="parquet")
        col = ds.field(partition.offset_col)
        scanner = dataset.scanner(
            columns=partition.columns,
            filter=(col > partition.start) & (col <= partition.end),
        )
        for batch in scanner.to_batches():
            if batch.num_rows:
                yield batch

    def commit(self, end: dict) -> None:
        e = int(end["block"])
        if self._current is None or self._current < e:
            self._current = e
        self._persist_cursor(e)


class BlockRangeDataSource(DataSource):
    """``spark.readStream.format("block_range")`` source. Register with
    ``spark.dataSource.register(BlockRangeDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "block_range"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema
        import pyarrow.dataset as ds

        dataset = ds.dataset(self.options["path"], format="parquet")
        return from_arrow_schema(dataset.schema)

    def streamReader(self, schema: StructType) -> BlockRangeStreamReader:
        return BlockRangeStreamReader(schema, self.options)


def block_range_stream(
    spark,
    path: str,
    offset_col: str = "block",
    max_offsets_per_trigger: int = 100_000,
    streaming_lag: int = 0,
    start_offset: int = -1,
    range_splits: int = 8,
    cursor_path: str | None = None,
):
    """Convenience: register the source (idempotent) and open a
    rate-limited readStream over ``path``. Pass ``cursor_path`` (a
    directory next to your checkpointLocation) so query restarts clamp
    from the last committed offset instead of ``start_offset``."""
    spark.dataSource.register(BlockRangeDataSource)
    reader = (
        spark.readStream.format("block_range")
        .option("path", path)
        .option("offsetCol", offset_col)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .option("streamingLag", str(streaming_lag))
        .option("startOffset", str(start_offset))
        .option("rangeSplits", str(range_splits))
    )
    if cursor_path is not None:
        reader = reader.option("cursorPath", cursor_path)
    return reader.load()

"""Checkpointed sync-offset state (SURVEY.md §2.9 T1/T3).

The reference keeps a JSON blob per chain in Airflow Variables:
``{last_synced_block, last_synced_block_date, latest_block,
latest_block_date}`` (``airflow/bitquery.py:185-205, 271-285``) — a
mutable key-value store with no history. Here the state is an
append-only JSON log per stream under a checkpoint directory: each
commit writes a new versioned record, the current state is the
highest version, and history is retained for debugging/replay —
the shape of a Structured Streaming offset/commit log, kept
human-readable.

Driver-side file IO is deliberate: state is O(bytes) and belongs
next to the job's checkpoint location, not in a distributed table.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import asdict, dataclass, fields
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class SyncState:
    """Watermark tuple (reference ``airflow/bitquery.py:271-284``)."""

    last_synced_block: int
    last_synced_block_date: str
    latest_block: int
    latest_block_date: str

    @classmethod
    def initial(cls) -> "SyncState":
        return cls(-1, "1970-01-01", -1, "1970-01-01")


class SyncStateStore:
    """Versioned JSON state log: ``{root}/{stream}/NNNNNNNNNN.json``."""

    def __init__(self, root: str):
        self.root = root

    def _dir(self, stream: str) -> str:
        return os.path.join(self.root, stream)

    def _versions(self, stream: str) -> list[int]:
        d = self._dir(stream)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json")
        )

    def get(self, stream: str) -> SyncState:
        """Read the committed state (reference ``get_synced_status``,
        ``airflow/bitquery.py:185-205``); initial sentinel when the
        stream has never committed."""
        versions = self._versions(stream)
        if not versions:
            return SyncState.initial()
        path = os.path.join(self._dir(stream), f"{versions[-1]:010d}.json")
        with open(path) as f:
            return SyncState(**json.load(f))

    def commit(self, stream: str, state: SyncState) -> int:
        """Append a new state version atomically (write temp + rename)."""
        d = self._dir(stream)
        os.makedirs(d, exist_ok=True)
        version = (self._versions(stream) or [-1])[-1] + 1
        path = os.path.join(d, f"{version:010d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(state), f)
        os.replace(tmp, path)
        return version

    def history(self, stream: str) -> list[SyncState]:
        out = []
        for v in self._versions(stream):
            with open(os.path.join(self._dir(stream), f"{v:010d}.json")) as f:
                out.append(SyncState(**json.load(f)))
        return out


class TableSyncStateStore:
    """Transactional sync-offset TABLE (the Delta-style option next to
    the JSON log): every commit is one immutable single-row parquet
    file ``{stream}-{version:010d}.parquet`` published atomically via
    hard-link (create-exclusive semantics — a torn write can never be
    observed, and two committers racing on the same stream version get
    exactly one winner; the loser re-reads and retries — optimistic
    concurrency, the Delta commit protocol in miniature).

    Unlike the JSON log, the whole store is *queryable as a DataFrame*
    (``snapshot()``/``current()``): a fleet of thousands of streams'
    offsets is just a table — joinable with lag monitors, with full
    audit history and time travel by version predicate. The hot path
    (``get``/``commit``) stays driver-side pyarrow: no Spark job per
    micro-batch commit.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _versions(self, stream: str) -> list[int]:
        pre = f"{stream}-"
        out = []
        for f in os.listdir(self.root):
            if not (f.startswith(pre) and f.endswith(".parquet")):
                continue
            tail = f[len(pre):-8]
            if tail.isdigit():  # skip streams whose name extends ours
                out.append(int(tail))
        return sorted(out)

    def _read(self, stream: str, version: int) -> SyncState:
        """The SyncState of one committed version (the parquet row also
        carries ``stream`` and ``version``, which are dropped)."""
        import pyarrow.parquet as pq

        path = os.path.join(self.root, f"{stream}-{version:010d}.parquet")
        row = pq.read_table(path).to_pylist()[0]
        return SyncState(**{f.name: row[f.name] for f in fields(SyncState)})

    def get(self, stream: str) -> SyncState:
        versions = self._versions(stream)
        if not versions:
            return SyncState.initial()
        return self._read(stream, versions[-1])

    def commit(self, stream: str, state: SyncState, max_retries: int = 20) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        import contextlib
        import uuid

        for _ in range(max_retries):
            version = (self._versions(stream) or [-1])[-1] + 1
            row = {"stream": stream, "version": version, **asdict(state)}
            table = pa.table({k: [v] for k, v in row.items()})
            # Unique per-writer tmp name: a shared deterministic name
            # would let a racing committer truncate/rewrite this file
            # between write_table and the os.link publish, publishing a
            # torn or foreign parquet under a committed version.
            tmp = os.path.join(
                self.root, f".{stream}-{version:010d}-{uuid.uuid4().hex}.tmp"
            )
            pq.write_table(table, tmp)
            target = os.path.join(self.root, f"{stream}-{version:010d}.parquet")
            try:
                os.link(tmp, target)  # atomic create-exclusive publish
                return version
            except FileExistsError:
                continue  # lost the race; re-derive next version
            finally:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(tmp)
        raise RuntimeError(
            f"could not commit stream {stream!r} after {max_retries} retries"
        )

    def snapshot(self) -> DataFrame:
        """Full history as a DataFrame (one row per commit)."""
        return self.spark.read.parquet(os.path.join(self.root, "*.parquet"))

    def current(self) -> DataFrame:
        """Latest state per stream — the offsets table a lag monitor
        joins against."""
        from pyspark.sql import Window

        w = Window.partitionBy("stream").orderBy(F.col("version").desc())
        return (
            self.snapshot()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def history(self, stream: str) -> list[SyncState]:
        return [self._read(stream, v) for v in self._versions(stream)]


def commit_from_destination(
    store: SyncStateStore | TableSyncStateStore,
    stream: str,
    destination_max: Callable[[], int | None],
) -> SyncState:
    """Commit what LANDED, not what was attempted (reference
    ``set_latest_block``, ``airflow/bitquery.py:288-351``): the
    watermark is re-derived from the destination so a sink failure
    can never advance past the durable data."""
    landed = destination_max()
    prev = store.get(stream)
    committed = prev.last_synced_block if landed is None else int(landed)
    state = SyncState(
        last_synced_block=committed,
        last_synced_block_date=prev.last_synced_block_date,
        latest_block=committed,
        latest_block_date=prev.latest_block_date,
    )
    store.commit(stream, state)
    return state

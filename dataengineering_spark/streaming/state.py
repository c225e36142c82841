"""Checkpointed sync-offset state (SURVEY.md §2.9 T1/T3).

The reference keeps a JSON blob per chain in Airflow Variables:
``{last_synced_block, last_synced_block_date, latest_block,
latest_block_date}`` (``airflow/bitquery.py:185-205, 271-285``) — a
mutable key-value store with no history. Here the state is an
append-only JSON log per stream under a checkpoint directory: each
commit writes a new versioned record, the current state is the
highest version, and history is retained for debugging/replay —
the shape of a Structured Streaming offset/commit log, kept
human-readable (``spark.read.json(f"{root}/*/*.json")`` reads every
stream's history as a table).

Commit protocol, the only one in the sync tier: write the record to a
tmp name unique to the writer (never listed as a version), then
publish it as version ``max + 1`` with a hard link. The link is
create-exclusive, so a torn record is never visible and two
committers racing for one version get one winner; the loser re-lists
and links at the next version.

Driver-side file IO is deliberate: state is O(bytes) and belongs
next to the job's checkpoint location, not in a distributed table.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass

# A commit's attempt fails only when another writer's commit took the
# version, so this bounds how many racing commits one call outlasts.
_COMMIT_ATTEMPTS = 100


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

    def _path(self, stream: str, version: int) -> str:
        return os.path.join(self._dir(stream), f"{version:010d}.json")

    def _versions(self, stream: str) -> list[int]:
        d = self._dir(stream)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json")
        )

    def _read(self, stream: str, version: int) -> SyncState:
        with open(self._path(stream, version)) as f:
            return SyncState(**json.load(f))

    def get(self, stream: str) -> SyncState:
        """Read the committed state (reference ``get_synced_status``,
        ``airflow/bitquery.py:185-205``); initial sentinel when the
        stream has never committed."""
        versions = self._versions(stream)
        if not versions:
            return SyncState.initial()
        return self._read(stream, versions[-1])

    def commit(self, stream: str, state: SyncState) -> int:
        """Append ``state`` as the next version; returns that version."""
        d = self._dir(stream)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(asdict(state), f)
        try:
            for _ in range(_COMMIT_ATTEMPTS):
                version = (self._versions(stream) or [-1])[-1] + 1
                try:
                    os.link(tmp, self._path(stream, version))
                    return version
                except FileExistsError:
                    continue  # a racing committer took this version
        finally:
            os.unlink(tmp)
        raise RuntimeError(
            f"could not commit stream {stream!r} after {_COMMIT_ATTEMPTS} attempts"
        )

    def history(self, stream: str) -> list[SyncState]:
        return [self._read(stream, v) for v in self._versions(stream)]


def commit_from_destination(
    store: SyncStateStore,
    stream: str,
    prev: SyncState,
    landed: int | None,
) -> SyncState:
    """Commit what LANDED, not what was attempted (reference
    ``set_latest_block``, ``airflow/bitquery.py:288-351``): the
    watermark is ``landed``, the destination's max offset, so a sink
    failure can never advance past the durable data. ``prev`` is the
    stream's committed state; an empty destination keeps its
    watermark."""
    committed = prev.last_synced_block if landed is None else int(landed)
    state = SyncState(
        last_synced_block=committed,
        last_synced_block_date=prev.last_synced_block_date,
        latest_block=committed,
        latest_block_date=prev.latest_block_date,
    )
    store.commit(stream, state)
    return state

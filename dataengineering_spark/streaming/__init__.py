from dataengineering_spark.streaming.state import SyncState, SyncStateStore
from dataengineering_spark.streaming.runner import IncrementalSyncRunner, SyncConfig

__all__ = [
    "SyncStateStore",
    "SyncState",
    "IncrementalSyncRunner",
    "SyncConfig",
]

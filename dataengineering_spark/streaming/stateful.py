"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY.md §7 step 9; north-star capability).

The reference's only cross-batch state is the sync watermark. Real
pipelines also need per-key state that survives micro-batches —
running totals, first-seen dedup, session accumulation. These are
the canonical shapes, each a grouped pandas function over Spark's
managed state store (checkpointed, fault-tolerant, per-key).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("batch_rows", T.LongType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total_rows", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def running_totals(
    grouped_stream: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key running row/value totals across micro-batches.

    Input must be a *streaming* DataFrame; the key's accumulated
    (rows, value) lives in the state store and every batch emits the
    updated totals for keys seen in that batch."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = 0
        value = 0.0
        for pdf in pdfs:
            rows += len(pdf)
            value += float(pdf[value_col].sum())
        if state.exists:
            prev_rows, prev_value = state.get
        else:
            prev_rows, prev_value = 0, 0.0
        state.update((prev_rows + rows, prev_value + value))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "batch_rows": [rows],
                "total_rows": [prev_rows + rows],
                "total_value": [prev_value + value],
            }
        )

    return (
        grouped_stream.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


FIRST_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.StringType()),
        T.StructField("first_seen_batch", T.LongType()),
        T.StructField("n_duplicates", T.LongType()),
    ]
)
_SEEN_STATE = T.StructType([T.StructField("seen", T.LongType())])


def streaming_dedup_first_seen(
    grouped_stream: DataFrame,
    fingerprint_col: str,
) -> DataFrame:
    """Cross-batch exact dedup: the first batch a fingerprint appears
    in emits it; later appearances only increment a duplicate counter.
    This is the streaming face of the corpus-dedup operators — state
    is one long per distinct fingerprint, so memory is O(distinct),
    bounded further in production with a TTL timeout."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = sum(len(p) for p in pdfs)
        if state.exists:
            (seen,) = state.get
            state.update((seen + n,))
            yield pd.DataFrame(
                {
                    "fingerprint": [str(key[0])],
                    "first_seen_batch": [-1],
                    "n_duplicates": [n],
                }
            )
        else:
            state.update((n,))
            yield pd.DataFrame(
                {
                    "fingerprint": [str(key[0])],
                    "first_seen_batch": [0],
                    "n_duplicates": [n - 1],
                }
            )

    return grouped_stream.groupBy(fingerprint_col).applyInPandasWithState(
        update,
        outputStructType=FIRST_SEEN_SCHEMA,
        stateStructType=_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CDC_LATEST_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("value_micro", T.LongType()),
        T.StructField("is_tombstone", T.BooleanType()),
    ]
)
_CDC_STATE = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("value_micro", T.LongType()),
    ]
)


def streaming_cdc_latest(
    grouped_stream: DataFrame,
    key_col: str = "k",
) -> DataFrame:
    """Streaming face of the batch ``cdc_apply`` query: per-key state
    holds the highest-LSN (lsn, op, value_micro) seen across ALL
    micro-batches; every batch emits the key's refreshed current
    state, tombstones flagged rather than dropped so downstream sinks
    can propagate deletes. Late/duplicate events with a lower LSN
    than the stored state are absorbed without effect — the batch and
    streaming materializations converge to identical snapshots
    regardless of how the changelog is sliced into batches."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        best = None
        for p in pdfs:
            for lsn, op, vm in zip(p["lsn"], p["op"], p["value_micro"]):
                t = (int(lsn), str(op), int(vm))
                if best is None or t[0] > best[0]:
                    best = t
        if state.exists:
            cur = tuple(state.get)
            if best is None or cur[0] > best[0]:
                best = cur
        state.update(best)
        yield pd.DataFrame(
            {
                "k": [int(key[0])],
                "lsn": [best[0]],
                "op": [best[1]],
                "value_micro": [best[2]],
                "is_tombstone": [best[1] == "D"],
            }
        )

    return grouped_stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=CDC_LATEST_SCHEMA,
        stateStructType=_CDC_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

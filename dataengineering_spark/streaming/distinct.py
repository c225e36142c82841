"""Streaming distinct-count gauge — mergeable HLL sketch partials.

The third face of the mergeable-partials pattern (counts:
``streaming/abtest.py``; grouped sums: ``streaming/corpus.py``; this:
SKETCH state).  A live ingest wants "how many distinct users have we
seen, per event_type, NOW" without keeping the identity set.  The HLL
sketch is a bounded-size mergeable summary, so each micro-batch stores
one partial row per group — (event_type, hll binary), an
O(|groups| × 2^lgk) write of just that epoch — and the snapshot folds
partials with ``hll_union_agg`` into per-group estimates.  The epoch
store and its replay contract are the shared
:class:`~dataengineering_spark.streaming.store.PartialsLane`: a replay
writes nothing, so the sketch bytes need not be reproducible and the
epoch is sketched in parallel.

Estimate semantics (gotcha pinned in tests): a DIRECT sketch answers
with the stream-order HIP estimator while a UNION of sketches answers
from merged REGISTER state — they agree exactly only in sparse mode,
within sketch error otherwise.  The snapshot therefore compares to a
batch UNION over the same epoch slices (exact equality), and to the
true distinct count within documented error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataengineering_spark.operators.sketches import (
    hll_estimate_from_sketch,
    hll_merge_sketches,
    hll_sketch_by,
)
from dataengineering_spark.streaming.store import PartialsLane

_LGK = 12

_LANE = PartialsLane(
    lambda batch: hll_sketch_by(batch, ["event_type"], "user_id", lgk=_LGK),
    lambda partials: hll_merge_sketches(partials, ["event_type"]),
)
_epoch_partial = _LANE.epoch_partial
distinct_batch_fn = _LANE.batch_fn


def distinct_snapshot(spark: SparkSession, partials_path: str) -> DataFrame:
    """Per-event_type distinct-user estimate from the partial log."""
    return hll_estimate_from_sketch(
        _LANE.snapshot(spark, partials_path)
    ).select("event_type", "distinct_est")

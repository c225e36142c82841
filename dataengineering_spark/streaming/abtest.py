"""Streaming A/B-test monitor — the streaming face of the batch
``plans/queries_eval.q_abtest_ztest``.

An experiment dashboard wants "what is the z-statistic NOW" as events
arrive, without re-scanning every event ever ingested.  The z-test's
sufficient statistics — per-variant trial and conversion counts — are
MERGEABLE, so each micro-batch stores one tiny PARTIAL frame
(variant, n, c): an O(|variants|) hash aggregate of just that epoch.
The snapshot reader folds partials into cumulative per-variant counts
and routes them through the SAME ``ztest_output`` plan the batch query
uses, so stream == batch is provable on the exact output doubles, not
approximately.

The epoch store, its replay contract and ``compact_partials`` (which
keeps the store O(|variants|) on a long-running monitor) are the
shared :class:`~dataengineering_spark.streaming.store.PartialsLane`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.plans.queries_eval import variant_counts, ztest_output
from dataengineering_spark.streaming.store import PartialsLane


def _fold(partials: DataFrame) -> DataFrame:
    return partials.groupBy("variant").agg(
        F.sum("n").alias("n"), F.sum("c").alias("c")
    )


_LANE = PartialsLane(variant_counts, _fold)
abtest_batch_fn = _LANE.batch_fn
compact_partials = _LANE.compact


def abtest_snapshot(spark: SparkSession, partials_path: str) -> DataFrame:
    """The live z-test row — same output plan as the batch query."""
    return ztest_output(_LANE.snapshot(spark, partials_path))

"""Oracle parity on the 100 TB branch: every registry query whose call
graph reaches the small-frame gate (``operators/robust.small_frame_rows``)
runs against its DuckDB oracle at sf0.01 with the ``distributed_gates``
fixture active, so each gate takes its distributed branch, exactly as a
frame over the limit would.  The bench and the default oracle suite
never take that branch at these scale factors.

The fixture records every gate reached, so a listed query that stops
calling the gate fails here instead of silently leaving the list stale.
"""

from __future__ import annotations

import pytest

from dataengineering_spark.plans.queries import QUERIES
from tests.conftest import SF_ORACLE, assert_frames_match

# Long-horizon equivalence suite: excluded from the default
# (driver-budget) pytest run; gates shipping via `make test-slow`.
pytestmark = pytest.mark.slow

GATED = [
    # percentile pulls (100k rows)
    "rfm_segments",
    "dsir_resample",
    "quantile_normalize",
    # kcore_peel (500k edges)
    "kcore_peel",
    # connected_components (500k edges)
    "dedup_clusters",
    "dedup_clusters_forest",
    "dedup_survivors",
    "cluster_size_hist",
    "image_dedup_survivors",
    "semantic_reps_incremental",
    # built on semantic_dedup_members
    "semantic_dedup",
    "semantic_survivors",
]


@pytest.mark.parametrize("name", GATED)
def test_gated_query_matches_oracle_on_distributed_branch(
    spark, duck, distributed_gates, name
):
    from dataengineering_spark.caching import release_tracked

    spec = QUERIES[name]
    try:
        with distributed_gates() as calls:
            sdf = spec.fn(spark, SF_ORACLE)
            assert calls, f"{name} no longer reaches the small-frame gate"
            assert_frames_match(sdf, duck.sql(spec.sql))
    finally:
        release_tracked()

"""r14 optimization-round regression pins: the small-frame driver
gates must select exactly what their distributed formulations select.
(The global_discrete_pcts gate is fuzz-pinned in test_frontier_fuzz;
this file pins the query-level gates.)"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _rfm_both_branches(spark, monkeypatch, sf_dir):
    from dataengineering_spark.caching import release_tracked
    from dataengineering_spark.plans import queries_segments as qs

    gated = _rows(qs.q_rfm_segments(spark, sf_dir))
    release_tracked()
    spark.catalog.clearCache()
    with monkeypatch.context() as m:
        m.setattr(qs, "_RFM_DRIVER_MAX", 0)
        distributed = _rows(qs.q_rfm_segments(spark, sf_dir))
    release_tracked()
    return gated, distributed


def test_rfm_segments_driver_gate_matches_distributed(spark, monkeypatch, tmp_path):
    """The rfm quintile-cut driver pull (<=_RFM_DRIVER_MAX users) must
    produce the identical census as the unpivot + keyed discrete_pcts
    pass (forced via threshold 0), also when some users' every ``ts`` or
    ``value`` is NULL (NULL recency / money sort first on both paths)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    gated, distributed = _rfm_both_branches(spark, monkeypatch, SF)
    assert gated == distributed and len(gated) > 0

    events = pq.read_table(f"{SF}/events.parquet")
    uid = events.column("user_id").to_pylist()
    null_ts = {u for u in uid if u % 7 == 0}
    null_value = {u for u in uid if u % 5 == 0}
    for col, nulled in (("ts", null_ts), ("value", null_value)):
        field = events.schema.field(col)
        vals = events.column(col).to_pylist()
        events = events.set_column(
            events.schema.get_field_index(col),
            field,
            pa.array(
                [None if u in nulled else v for u, v in zip(uid, vals)],
                field.type,
            ),
        )
    pq.write_table(events, tmp_path / "events.parquet")
    gated, distributed = _rfm_both_branches(spark, monkeypatch, str(tmp_path))
    assert gated == distributed and len(gated) > 0


def test_global_pct_gate_empty_frame(spark):
    """Empty input: both percentile paths return {name: None}."""
    from dataengineering_spark.operators.robust import global_discrete_pcts

    df = spark.createDataFrame([], "v long, uid long")
    for thr in (100_000, 0):
        got = global_discrete_pcts(
            df, "v", "uid", (0.5,), ("cut",), driver_threshold=thr
        )
        assert got == {"cut": None}

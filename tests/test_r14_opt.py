"""r14 optimization-round regression pins: the small-frame driver
gates must select exactly what their distributed formulations select.
(The global_discrete_pcts gate is fuzz-pinned in test_frontier_fuzz;
this file pins the query-level gates.)"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _rfm_both_branches(spark, distributed_gates, sf_dir):
    from dataengineering_spark.caching import release_tracked
    from dataengineering_spark.plans import queries_segments as qs

    gated = _rows(qs.q_rfm_segments(spark, sf_dir))
    release_tracked()
    spark.catalog.clearCache()
    with distributed_gates():
        distributed = _rows(qs.q_rfm_segments(spark, sf_dir))
    release_tracked()
    return gated, distributed


def _write_events(tmp_path, name, events):
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    pq.write_table(events, d / "events.parquet")
    return str(d)


def _with_values(events, col, f):
    """``events`` with column ``col`` replaced by ``f(user_id, value)``."""
    import pyarrow as pa

    uid = events.column("user_id").to_pylist()
    field = events.schema.field(col)
    vals = events.column(col).to_pylist()
    return events.set_column(
        events.schema.get_field_index(col),
        field,
        pa.array([f(u, v) for u, v in zip(uid, vals)], field.type),
    )


def test_rfm_segments_driver_gate_matches_distributed(
    spark, distributed_gates, tmp_path
):
    """The rfm quintile-cut driver pull (small user frames) must
    produce the identical census as the unpivot + keyed discrete_pcts
    pass (forced via the ``distributed_gates`` fixture): on the corpus,
    when some users' every ``ts`` or ``value`` is NULL (NULL recency /
    money sort first on both paths), when some values are NaN, and on
    an empty events table."""
    import pyarrow.parquet as pq

    gated, distributed = _rfm_both_branches(spark, distributed_gates, SF)
    assert gated == distributed and len(gated) > 0

    events = pq.read_table(f"{SF}/events.parquet")
    nulled = _with_values(
        _with_values(events, "ts", lambda u, v: None if u % 7 == 0 else v),
        "value",
        lambda u, v: None if u % 5 == 0 else v,
    )
    nan = _with_values(
        events, "value", lambda u, v: float("nan") if u % 3 == 0 else v
    )
    for name, table in (("null", nulled), ("nan", nan)):
        sf_dir = _write_events(tmp_path, name, table)
        gated, distributed = _rfm_both_branches(spark, distributed_gates, sf_dir)
        assert gated == distributed and len(gated) > 0, name

    sf_dir = _write_events(tmp_path, "empty", events.slice(0, 0))
    assert _rfm_both_branches(spark, distributed_gates, sf_dir) == ([], [])


def test_global_pct_gate_empty_frame(spark, distributed_gates):
    """Empty, all-NULL and NaN input: both percentile paths return the
    same cuts — NULLs rank first and NaN last on both, and an empty
    frame gives {name: None}."""
    from dataengineering_spark.operators.robust import global_discrete_pcts
    from tests.conftest import _norm

    pcts, names = (0.0, 0.5, 1.0), ("lo", "mid", "hi")
    for dtype, vals in (
        ("long", []),
        ("long", [None, None]),
        ("long", [3, None, 1, None]),
        ("double", []),
        ("double", [None, None]),
        ("double", [3.0, float("nan"), None, 1.0, float("nan")]),
    ):
        df = spark.createDataFrame(
            [(v, i) for i, v in enumerate(vals)], f"v {dtype}, uid long"
        )
        got = global_discrete_pcts(df, "v", "uid", pcts, names)
        with distributed_gates():
            got_dist = global_discrete_pcts(df, "v", "uid", pcts, names)
        assert {k: _norm(v) for k, v in got.items()} == {
            k: _norm(v) for k, v in got_dist.items()
        }, (dtype, vals)
        if not vals:
            assert got == {nm: None for nm in names}

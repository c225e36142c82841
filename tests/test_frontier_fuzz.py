"""Differential fuzz for the seventh-pass kernels: the window-trick
implementations (skyline cummax, interval-union sweep, grouped
weighted median) vs direct quadratic / imperative Python references on
randomized inputs — ties, duplicates, touching intervals, singleton
groups all land in the sample space."""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pytest

# Long-horizon fuzz/soak/equivalence suite: excluded from the default
# (driver-budget) pytest run; gates shipping via `make test-slow`.
pytestmark = pytest.mark.slow

_SETTINGS = dict(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # partition
            st.integers(0, 6),  # x (ties likely)
            st.integers(-5, 5),  # y (ties likely)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_skyline_matches_bruteforce_dominance(spark, rows):
    from dataengineering_spark.operators.intervals import skyline_2d

    pdf = pd.DataFrame(rows, columns=["p", "x", "y"])
    pdf["uid"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    got = {r.uid for r in skyline_2d(df, "p", "x", "y").collect()}
    want = {
        row.uid
        for row in pdf.itertuples()
        if not any(
            o.p == row.p and o.x > row.x and o.y > row.y
            for o in pdf.itertuples()
        )
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # partition
            st.integers(0, 50),  # start
            st.integers(0, 10),  # length (0 ⇒ point interval)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_interval_coverage_matches_sweep(spark, rows):
    from dataengineering_spark.operators.intervals import interval_coverage

    pdf = pd.DataFrame(rows, columns=["p", "s", "ln"])
    pdf["e"] = pdf["s"] + pdf["ln"]
    df = spark.createDataFrame(pdf[["p", "s", "e"]])
    got = {
        (r.p, r.covered, r.n_intervals)
        for r in interval_coverage(df, "p", "s", "e").collect()
    }
    want = set()
    for p, grp in pdf.groupby("p"):
        ivs = sorted(zip(grp["s"], grp["e"]))
        merged = []
        for s, e in ivs:
            # same convention as the operator: touching (s == cur_end)
            # merges, strictly-greater start opens a new island
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        want.add((p, sum(e - s for s, e in merged), len(merged)))
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # group
            st.integers(-20, 20),  # value (ties likely)
            st.integers(1, 5),  # weight
        ),
        min_size=1,
        max_size=30,
    )
)
def test_weighted_median_matches_expansion(spark, rows):
    """The cumulative-weight window median must equal the lower median
    of the weight-expanded multiset (min v with 2·cumw ≥ totw)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["g", "v", "w"])
    df = spark.createDataFrame(pdf)
    gg = df.groupBy("g", "v").agg(F.sum("w").alias("w"))
    wc = Window.partitionBy("g").orderBy("v")
    wt = Window.partitionBy("g")
    c = gg.withColumn("cum", F.sum("w").over(wc)).withColumn(
        "totw", F.sum("w").over(wt)
    )
    got = {
        (r.g, r.med)
        for r in c.filter(2 * F.col("cum") >= F.col("totw"))
        .groupBy("g")
        .agg(F.min("v").alias("med"))
        .collect()
    }
    want = set()
    for g, grp in pdf.groupby("g"):
        expanded = sorted(
            v for v, w in zip(grp["v"], grp["w"]) for _ in range(w)
        )
        tot = len(expanded)
        # min v whose cumulative count doubles to at least the total
        cum = 0
        for v in expanded:
            cum += 1
            if 2 * cum >= tot:
                want.add((g, v))
                break
    assert got == want


# values with ties likely; NULL on both column types, NaN only in double
_PCT_VALUES = {
    "long": st.one_of(st.integers(-50, 50), st.none()),
    "double": st.one_of(
        st.integers(-50, 50).map(float), st.none(), st.just(math.nan)
    ),
}


@pytest.mark.parametrize("dtype", sorted(_PCT_VALUES))
@settings(**_SETTINGS)
@given(data=st.data())
def test_global_discrete_pcts_matches_sorted_rank(
    spark, distributed_gates, dtype, data
):
    """The RangePartitioner-pattern global percentile must equal the
    value at rank floor(p*(n-1))+1 of the fully sorted list (NULLs
    first, NaN last, as Spark orders), and None on an empty frame."""
    from dataengineering_spark.operators.robust import (
        _global_pct_order_key,
        global_discrete_pcts,
    )
    from tests.conftest import _norm

    vals = data.draw(st.lists(_PCT_VALUES[dtype], max_size=60))
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], f"v {dtype}, uid long"
    )
    ordered = sorted(vals, key=_global_pct_order_key)
    n = len(ordered)
    pcts, names = (0.25, 0.5, 0.9), ("a", "b", "c")
    want = {
        nm: _norm(ordered[int(p * (n - 1))] if n else None)
        for p, nm in zip(pcts, names)
    }
    # both the small-frame driver gate and the distributed
    # RangePartitioner path (forced by the fixture) must select the
    # identical rank values
    got = global_discrete_pcts(df, val="v", tie="uid", pcts=pcts, names=names)
    assert {k: _norm(v) for k, v in got.items()} == want
    with distributed_gates():
        got_dist = global_discrete_pcts(
            df, val="v", tie="uid", pcts=pcts, names=names
        )
    assert {k: _norm(v) for k, v in got_dist.items()} == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(-20, 20),  # order key (ties likely)
            st.integers(-10, 10),  # a
            st.integers(0, 5),  # b
        ),
        min_size=1,
        max_size=50,
    )
)
def test_global_cumsum_matches_sorted_prefix(spark, rows):
    """The RangePartitioner-pattern global cumsum must equal the
    tie-inclusive prefix sums of the sorted list (CDF semantics: every
    row in a tie group carries the group's full running total)."""
    from dataengineering_spark.operators.robust import global_cumsum

    pdf = pd.DataFrame(rows, columns=["k", "a", "b"])
    df = spark.createDataFrame(pdf)
    got = sorted(
        (r.k, r.cum_a, r.cum_b)
        for r in global_cumsum(df, order=("k",), cols=("a", "b")).collect()
    )
    totals = pdf.groupby("k")[["a", "b"]].sum().sort_index().cumsum()
    want = sorted(
        (int(k), int(totals.loc[k, "a"]), int(totals.loc[k, "b"]))
        for k in pdf["k"]
    )
    assert got == want

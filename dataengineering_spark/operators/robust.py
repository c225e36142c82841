"""Robust-statistics building blocks: distributed discrete
percentiles and step-function time-weighted averages.

``discrete_pcts`` is the rank-offset percentile plan (see
plans/queries_analytics.q_value_percentiles for the original
derivation) factored into a reusable operator: per-group discrete
percentiles WITHOUT a per-group Window, so a low-cardinality group
column still spreads across every core. ``step_twap`` is the
integer-exact step-function TWAP used by the twap_daily query.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def discrete_pcts(
    df: DataFrame,
    key: str,
    val: str,
    tie: str,
    pcts: Sequence[float],
    names: Sequence[str],
) -> DataFrame:
    """Per-``key`` discrete percentiles of ``val`` → one row per key,
    one column per name.

    Percentile p selects the row with rank ``floor(p*(n-1))+1`` under
    ``ORDER BY val, tie`` (percentile_disc semantics; the tie column
    makes the selected row — hence the value — deterministic).

    Plan shape: global ranks are assembled from (partition, key)-local
    row_numbers plus a broadcast prefix-sum of per-partition counts
    over a ``repartitionByRange(key, val, tie)`` layout. No Window
    ever partitions on ``key`` alone, so a 5-group / billion-row input
    still runs wide; the only broadcast frames are per-(partition,key)
    counts and per-key targets — both tiny by construction.
    """
    from dataengineering_spark.caching import persist_tracked

    # Both the offsets branch and the ranked branch below read this
    # ranged layout; correctness requires them to see IDENTICAL sampled
    # range bounds.  Exchange reuse usually deduplicates the shuffle,
    # but AQE/plan changes can break that — persist pins the layout
    # (same known repo hazard as global_discrete_pcts / global_cumsum).
    data = persist_tracked(
        df.repartitionByRange(key, val, tie).withColumn(
            "pid", F.spark_partition_id()
        )
    )
    # targets derives from the PERSISTED frame, not ``df``: when the
    # input is itself a join/agg pipeline (sla_percentiles: orders ⋈
    # min-shipdate), reading ``df`` here would run that pipeline a
    # second time just to count rows per key (isolated-bench finding,
    # round 7).
    targets = (
        data.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            key,
            *[
                (F.floor(F.lit(p) * (F.col("n") - 1)) + 1).alias(f"{nm}_r")
                for p, nm in zip(pcts, names)
            ],
        )
    )
    w_off = (
        Window.partitionBy(key).orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        data.groupBy("pid", key)
        .agg(F.count(F.lit(1)).alias("pc"))
        .withColumn("off", F.coalesce(F.sum("pc").over(w_off), F.lit(0)))
        .select("pid", key, "off")
    )
    w_local = Window.partitionBy("pid", key).orderBy(val, tie)
    ranked = (
        data.withColumn("lrn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), ["pid", key])
        .withColumn("rn", F.col("off") + F.col("lrn"))
        .join(F.broadcast(targets), key)
    )
    hits = ranked.filter(
        functools.reduce(
            operator.or_, [F.col("rn") == F.col(f"{nm}_r") for nm in names]
        )
    )
    return hits.groupBy(key).agg(
        *[
            F.max(F.when(F.col("rn") == F.col(f"{nm}_r"), F.col(val))).alias(nm)
            for nm in names
        ]
    )


def discrete_pcts_counted(
    df: DataFrame,
    key: str,
    val: str,
    pcts: Sequence[float],
    names: Sequence[str],
) -> DataFrame:
    """Per-``key`` discrete percentiles of a LOW-CARDINALITY ``val`` —
    same percentile_disc semantics as :func:`discrete_pcts` (the value
    at rank ``floor(p*(n-1))+1``), computed from the (key, val) count
    distribution instead of ranking every row.

    The value a discrete percentile selects depends only on the
    cumulative count distribution — the tie column in the ranked
    formulation disambiguates ROWS, never values — so for any input
    the two operators return identical values.

    Plan shape: ONE exchange of map-side-combined (key, val) partial
    counts (shuffle volume is the distinct-pair count, not the row
    count), then windows over the counted frame partitioned by key.
    Use ONLY when |distinct val per key| is domain-bounded (day
    latencies, small-integer scores...): the per-key window task holds
    the value DOMAIN, not the data — at that point a billion-row input
    costs the same as a million-row one. For unbounded/continuous
    value domains use :func:`discrete_pcts`. NULL ``val`` rows are not
    supported (the ranked form orders them first, this form would
    order them per engine default); callers must pre-filter.
    """
    # NULLs dropped defensively (ADVICE r13 low): a nullable caller would
    # otherwise silently shift every percentile via an inflated ``_n``.
    g = (
        df.filter(F.col(val).isNotNull())
        .groupBy(key, val)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = (
        Window.partitionBy(key)
        .orderBy(val)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(key)
    cum = g.select(
        key,
        val,
        "_c",
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    hits = []
    for p, nm in zip(pcts, names):
        r = F.floor(F.lit(p) * (F.col("_n") - 1)) + 1
        hit = (F.col("_cum") - F.col("_c") < r) & (r <= F.col("_cum"))
        hits.append(F.max(F.when(hit, F.col(val))).alias(nm))
    return cum.groupBy(key).agg(*hits)


def keyed_ranks(
    df: DataFrame,
    key: str,
    val: str,
    tie: str,
    rank_col: str = "rn",
) -> DataFrame:
    """Every input row plus its per-``key`` global rank under
    ``ORDER BY val, tie`` — the full-rank sibling of
    :func:`discrete_pcts` (which keeps only the percentile hits).

    Same plan shape: (partition, key)-local row_numbers over a
    ``repartitionByRange(key, val, tie)`` layout plus a broadcast
    prefix-sum of per-(partition, key) counts. No Window partitions on
    ``key`` alone, so a 5-key / billion-row frame still runs wide; the
    broadcast offsets frame is O(#partitions × #keys) — fine for
    grouping-dimension keys, not for near-unique ones.
    """
    from dataengineering_spark.caching import persist_tracked

    # offsets branch and ranked branch must see identical sampled
    # range bounds (same repo hazard as discrete_pcts)
    data = persist_tracked(
        df.repartitionByRange(key, val, tie).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w_off = (
        Window.partitionBy(key)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        data.groupBy("_pid", key)
        .agg(F.count(F.lit(1)).alias("_pc"))
        .withColumn("_off", F.coalesce(F.sum("_pc").over(w_off), F.lit(0)))
        .select("_pid", key, "_off")
    )
    w_local = Window.partitionBy("_pid", key).orderBy(val, tie)
    return (
        data.withColumn("_lrn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), ["_pid", key])
        .withColumn(rank_col, F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off")
    )


def _global_pct_order_key(v):
    """Python sort key matching Spark ascending ORDER BY for one
    column: NULLs first, NaN last (Spark treats NaN as greater than any
    non-NaN double), plain values in between."""
    import math

    if v is None:
        return (0, 0)
    if isinstance(v, float) and math.isnan(v):
        return (2, 0)
    return (1, v)


def small_frame_rows(df: DataFrame, cols: Sequence[str], max_rows: int):
    """The small-frame gate: ``df``'s ``cols`` as driver rows when the
    frame holds at most ``max_rows`` rows, else ``None``.

    Gated operators run small frames on the driver, as the reference
    runs every transform in driver-local pandas: a distributed round
    costs ~1 s of scheduling at any size (a 1.2k-edge CC graph paid 16
    of them).  ``None`` selects the distributed (100 TB) branch, and
    both branches must agree, on NULL, NaN and empty input too.  ONE
    bounded evaluation decides AND carries the data: at most
    ``max_rows + 1`` skinny rows reach the driver.

    This is the only code that picks a branch.  Callers reach it as
    ``robust.small_frame_rows``, so the ``distributed_gates`` fixture in
    ``tests/conftest.py`` can swap it for one that returns ``None`` and
    force every gate down the path a frame over the limit takes.
    """
    rows = df.select(*cols).limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def sorted_rank_pcts(
    vals: Sequence, pcts: Sequence[float], names: Sequence[str]
) -> dict:
    """{name: value at rank ``floor(p*(n-1))+1`` of the sorted ``vals``}
    under Spark's ascending order (NULLs first, NaN last) — what the
    distributed rank passes select (a tie column disambiguates ROWS,
    never the selected VALUE).  Every name maps to ``None`` when
    ``vals`` is empty."""
    vals = sorted(vals, key=_global_pct_order_key)
    n = len(vals)
    return {
        nm: (vals[int(p * (n - 1))] if n else None) for p, nm in zip(pcts, names)
    }


# small-frame gate limits: the percentile pulls hold ≤ this many
# skinny values (~1 MB) on the driver, and the graph gates (CC, kcore)
# ≤ this many skinny edge rows (~8 MB)
_PCT_DRIVER_MAX_ROWS = 100_000
_EDGE_DRIVER_MAX_ROWS = 500_000


def global_discrete_pcts(
    df: DataFrame,
    val: str,
    tie: str,
    pcts: Sequence[float],
    names: Sequence[str],
) -> dict[str, int]:
    """GLOBAL discrete percentiles of ``val`` → {name: value} on the driver.

    The keyed ``discrete_pcts`` cannot serve a whole-frame quantile: a
    constant key folds its offsets Window into an Exchange
    SinglePartition and its cuts join into a nested loop — exactly the
    shapes the plan guards reject. This variant follows the repo's
    RangePartitioner pattern instead: ``repartitionByRange(val, tie)``
    spreads the sort, per-partition counts (≤ #partitions rows)
    collect to the driver for the prefix-sum offsets, and the target
    ranks come back as a broadcast pid→offset frame. Driver state is
    O(#partitions) — cluster-bounded, never data-bounded. Callers
    inline the returned cut values as literals (the 1-row collect is
    the same bounded class as the IVF centroid pulls).

    Frames of at most ``_PCT_DRIVER_MAX_ROWS`` rows take the
    :func:`small_frame_rows` driver branch: the collected column IS the
    full value multiset, and :func:`sorted_rank_pcts` picks the cuts.
    """
    from dataengineering_spark.caching import persist_tracked

    head = small_frame_rows(df, [val], _PCT_DRIVER_MAX_ROWS)
    if head is not None:
        return sorted_rank_pcts([r[0] for r in head], pcts, names)

    # three jobs (counts collect, hits collect, any caller re-read)
    # read this ranged layout — a recompute would re-sample the range
    # bounds and shift rows across partitions, invalidating the
    # offsets (known repo hazard)
    data = persist_tracked(
        df.repartitionByRange(val, tie).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    pc = sorted(
        (r["_pid"], r["pc"])
        for r in data.groupBy("_pid").agg(F.count(F.lit(1)).alias("pc")).collect()
    )
    n = sum(c for _, c in pc)
    offs, acc = [], 0
    for pid, c in pc:
        offs.append((pid, acc))
        acc += c
    targets = {nm: int(p * (n - 1)) + 1 for p, nm in zip(pcts, names)}
    spark = df.sparkSession
    off_df = spark.createDataFrame(offs, "_pid int, _off long")
    w_local = Window.partitionBy("_pid").orderBy(val, tie)
    ranked = (
        data.withColumn("_lrn", F.row_number().over(w_local))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("_rn", F.col("_off") + F.col("_lrn"))
    )
    hits = ranked.filter(
        functools.reduce(
            operator.or_, [F.col("_rn") == F.lit(r) for r in targets.values()]
        )
    )
    row = hits.agg(
        *[
            F.max(F.when(F.col("_rn") == F.lit(r), F.col(val))).alias(nm)
            for nm, r in targets.items()
        ]
    ).collect()[0]
    return {nm: row[nm] for nm in names}


def global_cumsum(
    df: DataFrame,
    order: Sequence[str],
    cols: Sequence[str],
    prefix: str = "cum_",
) -> DataFrame:
    """Exact GLOBAL running sums of ``cols`` under ``ORDER BY order``.

    The naive shape — ``Window.orderBy(...)`` with no partition — is an
    Exchange SinglePartition feeding a Window: the whole frame through
    one task (plan-guard-rejected). RangePartitioner pattern instead:
    ``repartitionByRange(order)`` gives a sorted-partition layout,
    per-partition totals (≤ #partitions rows) collect to the driver
    for exclusive prefix offsets, and the in-partition window (keyed
    by partition id — never SinglePartition) adds the broadcast
    offset. Driver state is O(#partitions × #cols), cluster-bounded.
    Global CDFs / cumulative counters at any scale.
    """
    from dataengineering_spark.caching import persist_tracked

    # the totals collect and the returned plan both read this ranged
    # layout — persist so the range bounds are sampled exactly once
    # (known repo hazard: re-sampled bounds shift rows across
    # partitions and break the prefix offsets)
    data = persist_tracked(
        df.repartitionByRange(*order).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    per = sorted(
        (r["_pid"], tuple(r[f"_t_{c}"] for c in cols))
        for r in data.groupBy("_pid")
        .agg(*[F.sum(c).alias(f"_t_{c}") for c in cols])
        .collect()
    )
    offs, acc = [], [0] * len(cols)
    for pid, totals in per:
        offs.append((pid, *acc))
        acc = [a + (t or 0) for a, t in zip(acc, totals)]
    spark = df.sparkSession
    off_schema = ", ".join(["_pid int"] + [f"_off_{c} long" for c in cols])
    off_df = spark.createDataFrame(offs, off_schema)
    # default RANGE ...-CURRENT ROW frame: ties on the order key all
    # receive the tie group's full sum (CDF semantics), and range
    # partitioning never splits equal keys across partitions — so the
    # result is deterministic even with duplicate order keys.
    w = Window.partitionBy("_pid").orderBy(*order)
    out = data.join(F.broadcast(off_df), "_pid")
    for c in cols:
        out = out.withColumn(
            f"{prefix}{c}", F.sum(c).over(w) + F.col(f"_off_{c}")
        )
    return out.drop("_pid", *[f"_off_{c}" for c in cols])


def step_twap(
    df: DataFrame,
    key: str = "event_type",
    ts: str = "ts",
    val: str = "value",
    tie: str = "event_id",
) -> DataFrame:
    """Step-function time-weighted average per (key, day).

    Each observation holds from its timestamp until the next one in
    the same (key, day); the day's last observation holds until
    midnight. The pipeline is integer-exact end-to-end: values are
    centi-units (``floor(v*100+0.5)``, exact for the corpus's
    2-decimal values), durations are whole microseconds
    (``timestampdiff`` — timezone-free on NTZ timestamps), products
    are summed in DECIMAL(38,0), and one integer division emits
    ``twap_micro`` (micro-value units). No float ever reaches the
    output, so the result is bit-identical on any engine and any
    partitioning.

    Output: (key, day, n, dur_total_us, twap_micro).
    """
    def _bq(name: str):
        # literal binding: user-supplied names may need backtick quoting
        return F.col("`" + name.replace("`", "``") + "`")

    base = df.select(
        _bq(key).alias("_k"),
        _bq(ts).alias("_ts"),
        _bq(val).alias("_v"),
        _bq(tie).alias("_tie"),
        F.to_date(_bq(ts)).alias("day"),
    )
    out_key = key
    key, ts, val, tie = "_k", "_ts", "_v", "_tie"
    w = Window.partitionBy(key, "day").orderBy(ts, tie)
    seg = base.withColumn(
        "nxt",
        F.coalesce(
            F.lead(ts).over(w), F.date_add(F.col("day"), 1).cast("timestamp_ntz")
        ),
    ).withColumn("dur_us", F.expr("timestampdiff(MICROSECOND, _ts, nxt)"))
    contrib = (
        F.floor(F.col(val) * 100 + F.lit(0.5)).cast("decimal(19,0)")
        * F.col("dur_us").cast("decimal(19,0)")
    ).alias("wvd")
    agg = (
        seg.select(key, "day", "dur_us", contrib)
        .groupBy(key, "day")
        .agg(
            F.sum("wvd").alias("s1"),
            F.sum("dur_us").alias("dur_total_us"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return agg.select(
        F.col(key).alias(out_key),
        "day",
        "n",
        "dur_total_us",
        F.expr(
            "CAST((s1 * 10000) DIV CAST(dur_total_us AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("twap_micro"),
    )


def cusum_changepoint(
    df: DataFrame,
    key: str,
    order_col: str,
    val: str,
) -> DataFrame:
    """Per-key CUSUM mean-shift changepoint over an ordered integer
    series: the position k maximizing |Σ_{i≤k} y_i − k·μ|, with the
    statistic multiplied through by n (n·prefix_k − k·S) so it stays
    exact int64 — no division, both engines rank identical integers.
    Ties take the earliest position. ``order_col`` must be unique per
    key (pre-aggregate first — the caller's series should already be
    the grid, not raw events, so the windows run over ~series-length
    rows).

    Returns (key, order_col at the changepoint, abs_stat, n) — one
    row per key. Fuzz-checked against a direct Python scan in
    tests/test_differential_fuzz.py.
    """
    by_order = Window.partitionBy(key).orderBy(order_col)
    whole = Window.partitionBy(key)
    c = (
        df.withColumn("_k", F.row_number().over(by_order))
        .withColumn(
            "_prefix",
            F.sum(val).over(by_order.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("_s", F.sum(val).over(whole))
        .withColumn("_n", F.count(F.lit(1)).over(whole))
        .withColumn(
            "_stat",
            F.abs(F.col("_n") * F.col("_prefix") - F.col("_k") * F.col("_s")),
        )
    )
    best = Window.partitionBy(key).orderBy(F.col("_stat").desc(), F.col("_k"))
    return (
        c.withColumn("_rk", F.row_number().over(best))
        .filter(F.col("_rk") == 1)
        .select(
            key,
            order_col,
            F.col("_stat").alias("abs_stat"),
            F.col("_n").cast("long").alias("n"),
        )
    )

"""Eighth-pass queries: conversion-latency distribution, market
concentration, integer-exact volatility bands, RFM segmentation, and
quantile mobility. Each fills a capability pocket the earlier passes
left open:

- ``conversion_latency`` — funnel *latency* (not counts, which
  ``funnel_steps`` covers): per converting user, seconds from first
  view to first subsequent purchase, then exact discrete percentiles
  (p25/p50/p75/p90) per weekly cohort via the wide rank-assembly
  operator (``operators/robust.discrete_pcts``) — no per-cohort
  Window over raw rows.
- ``hhi_daily`` — Herfindahl–Hirschman concentration of the daily
  event-type mix in exact ppm: Σcnt²·1e6 / total² with cross products
  in DECIMAL(38,0)/HUGEINT (the ``seasonality_dow`` idiom), so both
  engines rank identical integers.
- ``bollinger_breakout`` — volatility bands with ZERO float ops: a
  day breaches when |n·x − S| > 2·σ·n, which squared and multiplied
  through by n² becomes (n·x − S)² > 4·(n·Q − S²) — all integer
  (S, Q = trailing-window sum and sum-of-squares of daily micro
  totals). The trailing frame is ROWS 7..1 PRECEDING over the tiny
  per-(type, day) pre-aggregate, never the raw events.
- ``rfm_segments`` — recency/frequency/monetary segmentation: per
  metric, quintile cut values come from ONE wide rank-assembly pass
  (global quantiles without a global sort), broadcast back, and each
  user scores 1-5 per metric by comparing against the cuts; output is
  the segment-cell census. The anchor date is a literal (2024-02-01,
  just past the corpus) so no data-dependent 1-row attach is needed.
- ``decile_mobility`` — cohort mobility matrix: users' value
  quintile in the first half of the month vs the second half
  (quintiles per period via the same keyed rank-assembly), joined on
  user_id into the 5×5 transition census — the classic
  "do heavy users stay heavy" analysis.

Reference surface: the reference runs segmentation/concentration
rollups as ClickHouse SQL through the generic execute operator
(``clickhouse/v1/operator.py:440-499``); these are the distributed
re-expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineering_spark.caching import persist_tracked
from dataengineering_spark.catalog import read_table
from dataengineering_spark.operators import robust
from dataengineering_spark.operators.robust import discrete_pcts


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, name, sf_dir)


def _d38(c):
    return F.col(c).cast("decimal(38,0)")


# ===========================================================================
# Q: conversion_latency — view→purchase latency percentiles per cohort week
# ===========================================================================

def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"), F.min("t_view").alias("t_view2"))
    )
    lat = p.select(
        "user_id",
        F.date_trunc("week", "t_view2").cast("date").alias("cohort_week"),
        (
            F.col("t_purchase").cast("timestamp").cast("long")
            - F.col("t_view2").cast("timestamp").cast("long")
        ).alias("latency_sec"),
    )
    return discrete_pcts(
        lat,
        key="cohort_week",
        val="latency_sec",
        tie="user_id",
        pcts=(0.25, 0.5, 0.75, 0.9),
        names=("p25", "p50", "p75", "p90"),
    )


SQL_CONVERSION_LATENCY = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase, MIN(v.t_view) AS t_view
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY 1
),
lat AS (
  SELECT user_id, CAST(date_trunc('week', t_view) AS DATE) AS cohort_week,
    CAST(floor(epoch(t_purchase)) - floor(epoch(t_view)) AS BIGINT) AS latency_sec
  FROM p
),
rk AS (
  SELECT cohort_week, latency_sec,
    ROW_NUMBER() OVER (PARTITION BY cohort_week
                       ORDER BY latency_sec, user_id) AS rn,
    COUNT(*) OVER (PARTITION BY cohort_week) AS n
  FROM lat
)
SELECT cohort_week,
  MAX(CASE WHEN rn = floor(0.25 * (n - 1)) + 1 THEN latency_sec END) AS p25,
  MAX(CASE WHEN rn = floor(0.5 * (n - 1)) + 1 THEN latency_sec END) AS p50,
  MAX(CASE WHEN rn = floor(0.75 * (n - 1)) + 1 THEN latency_sec END) AS p75,
  MAX(CASE WHEN rn = floor(0.9 * (n - 1)) + 1 THEN latency_sec END) AS p90
FROM rk GROUP BY 1
"""


# ===========================================================================
# Q: hhi_daily — Herfindahl concentration of the daily event mix (ppm)
# ===========================================================================

def q_hhi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per.groupBy("day")
        .agg(
            F.sum(_d38("cnt") * _d38("cnt")).cast("decimal(38,0)").alias("_s2"),
            F.sum("cnt").alias("total"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .select(
            "day",
            "total",
            "n_types",
            F.expr(
                "CAST((_s2 * 1000000) DIV"
                " (CAST(total AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0)))"
                " AS BIGINT)"
            ).alias("hhi_ppm"),
        )
    )


SQL_HHI_DAILY = """
WITH per AS (
  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT day, CAST(SUM(cnt) AS BIGINT) AS total,
  COUNT(*) AS n_types,
  CAST((SUM(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)) * 1000000)
       // (CAST(SUM(cnt) AS HUGEINT) * CAST(SUM(cnt) AS HUGEINT)) AS BIGINT)
    AS hhi_ppm
FROM per GROUP BY 1
"""


# ===========================================================================
# Q: bollinger_breakout — integer-exact 2σ band breaches per series
# ===========================================================================
#
# |x − μ| > 2σ over the trailing 7 days, with μ = S/n and
# σ² = (n·Q − S²)/n², multiplies through by n² to the pure-integer
# test (n·x − S)² > 4·(n·Q − S²). x = daily value total in micro
# units; all products ride DECIMAL(38,0)/HUGEINT.

def q_bollinger_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 1e6 + F.lit(0.5)).alias("x"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("x").alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    stats = daily.select(
        "event_type",
        "day",
        "x",
        F.count("x").over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(_d38("x") * _d38("x")).over(w).cast("decimal(38,0)").alias("q"),
    ).filter(F.col("n") == 7)
    dev = (F.lit(7).cast("decimal(38,0)") * _d38("x")) - _d38("s")
    var4 = F.lit(4).cast("decimal(38,0)") * (
        F.lit(7).cast("decimal(38,0)") * F.col("q") - _d38("s") * _d38("s")
    )
    return stats.select(
        "event_type",
        "day",
        "x",
        F.when((dev > 0) & (dev * dev > var4), 1).otherwise(0).alias("breach_hi"),
        F.when((dev < 0) & (dev * dev > var4), 1).otherwise(0).alias("breach_lo"),
    )


SQL_BOLLINGER_BREAKOUT = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, day, x,
    COUNT(x) OVER w AS n,
    SUM(x) OVER w AS s,
    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER w AS q
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, x,
  CAST(CASE WHEN (7 * CAST(x AS HUGEINT) - s) > 0
         AND (7 * CAST(x AS HUGEINT) - s) * (7 * CAST(x AS HUGEINT) - s)
             > 4 * (7 * q - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
       THEN 1 ELSE 0 END AS INT) AS breach_hi,
  CAST(CASE WHEN (7 * CAST(x AS HUGEINT) - s) < 0
         AND (7 * CAST(x AS HUGEINT) - s) * (7 * CAST(x AS HUGEINT) - s)
             > 4 * (7 * q - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
       THEN 1 ELSE 0 END AS INT) AS breach_lo
FROM stats WHERE n = 7
"""


# ===========================================================================
# Q: rfm_segments — recency/frequency/monetary quintile census
# ===========================================================================

_RFM_PCTS = (0.2, 0.4, 0.6, 0.8)
_RFM_NAMES = ("c20", "c40", "c60", "c80")


def _score_lit(v: str, cuts: dict[str, int]):
    s = F.lit(1)
    for nm in _RFM_NAMES:
        s = s + F.when(F.col(v) > F.lit(cuts[nm]), 1).otherwise(0)
    return s


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit("2024-02-01").cast("date"), F.max(F.to_date("ts"))
            ).alias("recency"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5))).alias("money"),
        )
    )
    # the user frame feeds the cut computation plus the final census —
    # persist it or the events scan runs per consumer
    u = persist_tracked(u)
    # ONE keyed rank-assembly pass computes all three metrics' quintile
    # cuts (r13): unpivot (metric, value, user_id) and run the keyed
    # discrete_pcts operator with key=metric — identical values to the
    # former three global_discrete_pcts rounds (per metric: rank
    # floor(p·(n−1))+1 under ORDER BY value, user_id; casting the int
    # recency to long changes ordering of nothing), at one shuffle +
    # one bounded 3-row collect instead of three shuffles + six
    # driver jobs. Cuts are inlined as literals, so the scoring pass
    # stays a pure narrow map: no join, no window.
    metrics = ("recency", "freq", "money")
    # small user frames (the global_discrete_pcts gate and limit): the
    # quintile cuts per metric are sorted_rank_pcts of the collected
    # column, with no range shuffle and no offsets / hits collects.
    # Empty input leaves the cuts None; the census is empty regardless.
    head = robust.small_frame_rows(u, metrics, robust._PCT_DRIVER_MAX_ROWS)
    if head is not None:
        cuts = {
            m: robust.sorted_rank_pcts([r[m] for r in head], _RFM_PCTS, _RFM_NAMES)
            for m in metrics
        }
    else:
        unpivoted = u.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("metric"),
                            F.col(m).cast("long").alias("v"),
                            F.col("user_id").alias("user_id"),
                        )
                        for m in metrics
                    ]
                )
            ).alias("s")
        ).select("s.metric", "s.v", "s.user_id")
        cut_rows = {
            r["metric"]: r
            for r in discrete_pcts(
                unpivoted,
                key="metric",
                val="v",
                tie="user_id",
                pcts=_RFM_PCTS,
                names=_RFM_NAMES,
            ).collect()
        }
        # empty corpus: no percentile rows exist, so the cuts stay None
        # as on the driver branch
        cuts = {
            m: {
                nm: (cut_rows[m][nm] if m in cut_rows else None)
                for nm in _RFM_NAMES
            }
            for m in metrics
        }
    # recency: smaller = better, so invert the ascending quintile
    return (
        u.select(
            (F.lit(6) - _score_lit("recency", cuts["recency"])).alias("r_score"),
            _score_lit("freq", cuts["freq"]).alias("f_score"),
            _score_lit("money", cuts["money"]).alias("m_score"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


SQL_RFM_SEGMENTS = """
WITH u AS (
  SELECT user_id,
    date_diff('day', MAX(CAST(ts AS DATE)), DATE '2024-02-01') AS recency,
    COUNT(*) AS freq,
    SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS money
  FROM events GROUP BY 1
),
rr AS (
  SELECT user_id, recency, freq, money,
    ROW_NUMBER() OVER (ORDER BY recency, user_id) AS rn_r,
    ROW_NUMBER() OVER (ORDER BY freq, user_id) AS rn_f,
    ROW_NUMBER() OVER (ORDER BY money, user_id) AS rn_m,
    COUNT(*) OVER () AS n
  FROM u
),
cuts AS (
  SELECT
    MAX(CASE WHEN rn_r = floor(0.2 * (n-1)) + 1 THEN recency END) AS r20,
    MAX(CASE WHEN rn_r = floor(0.4 * (n-1)) + 1 THEN recency END) AS r40,
    MAX(CASE WHEN rn_r = floor(0.6 * (n-1)) + 1 THEN recency END) AS r60,
    MAX(CASE WHEN rn_r = floor(0.8 * (n-1)) + 1 THEN recency END) AS r80,
    MAX(CASE WHEN rn_f = floor(0.2 * (n-1)) + 1 THEN freq END) AS f20,
    MAX(CASE WHEN rn_f = floor(0.4 * (n-1)) + 1 THEN freq END) AS f40,
    MAX(CASE WHEN rn_f = floor(0.6 * (n-1)) + 1 THEN freq END) AS f60,
    MAX(CASE WHEN rn_f = floor(0.8 * (n-1)) + 1 THEN freq END) AS f80,
    MAX(CASE WHEN rn_m = floor(0.2 * (n-1)) + 1 THEN money END) AS m20,
    MAX(CASE WHEN rn_m = floor(0.4 * (n-1)) + 1 THEN money END) AS m40,
    MAX(CASE WHEN rn_m = floor(0.6 * (n-1)) + 1 THEN money END) AS m60,
    MAX(CASE WHEN rn_m = floor(0.8 * (n-1)) + 1 THEN money END) AS m80
  FROM rr
)
SELECT
  CAST(6 - (1 + CAST(recency > r20 AS INT) + CAST(recency > r40 AS INT)
              + CAST(recency > r60 AS INT) + CAST(recency > r80 AS INT))
    AS INT) AS r_score,
  CAST(1 + CAST(freq > f20 AS INT) + CAST(freq > f40 AS INT)
         + CAST(freq > f60 AS INT) + CAST(freq > f80 AS INT) AS INT) AS f_score,
  CAST(1 + CAST(money > m20 AS INT) + CAST(money > m40 AS INT)
         + CAST(money > m60 AS INT) + CAST(money > m80 AS INT) AS INT) AS m_score,
  COUNT(*) AS n_users
FROM u, cuts
GROUP BY 1, 2, 3
"""


# ===========================================================================
# Q: decile_mobility — early-vs-late month value-quintile transitions
# ===========================================================================

def q_decile_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    pu = (
        _t(spark, sf_dir, "events")
        .select(
            F.when(F.dayofmonth(F.to_date("ts")) <= 15, "early")
            .otherwise("late")
            .alias("period"),
            "user_id",
            F.floor(F.col("value") * 1e6 + F.lit(0.5)).alias("v"),
        )
        .groupBy("period", "user_id")
        .agg(F.sum("v").alias("v"))
    )
    # referenced by the cut machinery (targets + ranked data) and the
    # scoring join — persist so the events scan runs once
    pu = persist_tracked(pu)
    cuts = discrete_pcts(
        pu,
        key="period",
        val="v",
        tie="user_id",
        pcts=_RFM_PCTS,
        names=_RFM_NAMES,
    )
    q = F.lit(1)
    for nm in _RFM_NAMES:
        q = q + F.when(F.col("v") > F.col(nm), 1).otherwise(0)
    scored = pu.join(F.broadcast(cuts), "period").select(
        "period", "user_id", q.alias("q")
    )
    early = scored.filter(F.col("period") == "early").select(
        "user_id", F.col("q").alias("q_early")
    )
    late = scored.filter(F.col("period") == "late").select(
        "user_id", F.col("q").alias("q_late")
    )
    return (
        early.join(late, "user_id")
        .groupBy("q_early", "q_late")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


SQL_DECILE_MOBILITY = """
WITH pu AS (
  SELECT CASE WHEN day(CAST(ts AS DATE)) <= 15 THEN 'early' ELSE 'late' END
           AS period,
    user_id, SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
rk AS (
  SELECT period, user_id, v,
    ROW_NUMBER() OVER (PARTITION BY period ORDER BY v, user_id) AS rn,
    COUNT(*) OVER (PARTITION BY period) AS n
  FROM pu
),
cuts AS (
  SELECT period,
    MAX(CASE WHEN rn = floor(0.2 * (n-1)) + 1 THEN v END) AS c20,
    MAX(CASE WHEN rn = floor(0.4 * (n-1)) + 1 THEN v END) AS c40,
    MAX(CASE WHEN rn = floor(0.6 * (n-1)) + 1 THEN v END) AS c60,
    MAX(CASE WHEN rn = floor(0.8 * (n-1)) + 1 THEN v END) AS c80
  FROM rk GROUP BY 1
),
scored AS (
  SELECT pu.period, pu.user_id,
    1 + CAST(v > c20 AS INT) + CAST(v > c40 AS INT)
      + CAST(v > c60 AS INT) + CAST(v > c80 AS INT) AS q
  FROM pu JOIN cuts ON pu.period = cuts.period
)
SELECT e.q AS q_early, l.q AS q_late, COUNT(*) AS n_users
FROM scored e JOIN scored l ON e.user_id = l.user_id
WHERE e.period = 'early' AND l.period = 'late'
GROUP BY 1, 2
"""


SEGMENT_QUERIES = {
    "conversion_latency": (
        q_conversion_latency,
        SQL_CONVERSION_LATENCY,
        "analytics:funnel latency percentiles",
    ),
    "hhi_daily": (
        q_hhi_daily,
        SQL_HHI_DAILY,
        "analytics:Herfindahl concentration",
    ),
    "bollinger_breakout": (
        q_bollinger_breakout,
        SQL_BOLLINGER_BREAKOUT,
        "timeseries:integer-exact volatility bands",
    ),
    "rfm_segments": (
        q_rfm_segments,
        SQL_RFM_SEGMENTS,
        "analytics:RFM quintile segmentation",
    ),
    "decile_mobility": (
        q_decile_mobility,
        SQL_DECILE_MOBILITY,
        "analytics:quantile mobility matrix",
    ),
}

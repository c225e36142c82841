"""Additional relational queries: multi-join TPC-H shapes, session and
sliding windows — widening §2 coverage (J4 joins, P5 predicates, W
windows, streaming-window upgrades) with oracle-exact semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.caching import persist_tracked
from dataengineering_spark.catalog import read_table
from dataengineering_spark.functions.scalars import dsum
from dataengineering_spark.streaming.structured import interval_join


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, name, sf_dir)


DSUM = "CAST(CAST(SUM(CAST({e} AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"


# ===========================================================================
# Q: shipping_priority — TPC-H Q3 shape: 3-way join, date predicates,
# top-10 by exact revenue (broadcast customer dim, shuffle join on
# orders⋈lineitem keys).
# ===========================================================================

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    lineitem = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
  {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ===========================================================================
# Q: local_supplier_volume — TPC-H Q5 shape: 6-table snowflake join
# with the customer-nation == supplier-nation constraint.
# ===========================================================================

def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"))
    )


SQL_LOCAL_SUPPLIER_VOLUME = f"""
SELECT n_name, {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


# ===========================================================================
# Q: filtered_events — P4/P5 predicate stack: IN-list + date range +
# column math, aggregated small.
# ===========================================================================

def q_filtered_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            F.col("event_type").isin("click", "purchase")
            & (F.col("ts") >= "2024-01-08")
            & (F.col("value") > 5.0)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", "sum_value"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


SQL_FILTERED_EVENTS = f"""
SELECT event_type, COUNT(*) AS n,
  {DSUM.format(e='value')} AS sum_value,
  MIN(event_id) AS first_event, MAX(event_id) AS last_event
FROM events
WHERE event_type IN ('click', 'purchase')
  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND value > 5.0
GROUP BY event_type
"""


# ===========================================================================
# Q: session_window — gap-merged activity sessions per user (engine
# uses native session_window; the oracle derives identical sessions
# with the classic gaps-and-islands SQL).
# ===========================================================================

SESSION_GAP = "30 minutes"


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", SESSION_GAP).alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


SQL_SESSION_WINDOW = f"""
WITH g AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n_events,
  {DSUM.format(e='value')} AS sum_value
FROM s GROUP BY user_id, sid
"""


# ===========================================================================
# Q: sliding_window — 2h windows sliding by 1h (each event in exactly
# two windows; oracle expands via the two candidate window starts).
# ===========================================================================

def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


SQL_SLIDING_WINDOW = """
WITH expanded AS (
  SELECT date_trunc('hour', ts) - INTERVAL (h) HOUR AS window_start, event_type
  FROM events, range(0, 2) t(h)
)
SELECT window_start, event_type, COUNT(*) AS n
FROM expanded GROUP BY 1, 2
"""


# ===========================================================================
# Q: order_count_distribution — TPC-H Q13 shape: left outer join +
# two-level aggregation (how many customers have k orders, incl. 0).
# ===========================================================================

def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        ~F.col("o_orderpriority").startswith("5")
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


SQL_ORDER_COUNT_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '5%'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist FROM per_cust GROUP BY c_count
"""


# ===========================================================================
# Q: supplier_part_counts — TPC-H Q16 shape: anti-join + count-distinct
# ===========================================================================

def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    lineitem = _t(spark, sf_dir, "lineitem")
    bad_suppliers = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    joined = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_suppliers),
            lineitem.l_suppkey == bad_suppliers.s_suppkey,
            "left_anti",
        )
    )
    return joined.groupBy("p_brand", "p_type").agg(
        F.count_distinct("l_suppkey").alias("supplier_cnt")
    )


SQL_SUPPLIER_PART_COUNTS = """
SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
"""


# ===========================================================================
# Q: min_cost_supplier — TPC-H Q2 shape: per-group argmin via window
# ===========================================================================

def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    from pyspark.sql import Window

    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "s_suppkey", "s_name", "s_acctbal")
    )


SQL_MIN_COST_SUPPLIER = """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
ranked AS (
  SELECT l_partkey, s_suppkey, s_name, s_acctbal,
    ROW_NUMBER() OVER (PARTITION BY l_partkey
                       ORDER BY s_acctbal ASC, s_suppkey ASC) AS rn
  FROM pairs JOIN supplier ON l_suppkey = s_suppkey
)
SELECT l_partkey, s_suppkey, s_name, s_acctbal FROM ranked WHERE rn = 1
"""


# ===========================================================================
# Q: interval_join — range join: purchases within ±15 min of a click
# by the same user. Batch face of streaming.interval_join — the exact
# same operator joins two live streams with watermark-bounded state.
# ===========================================================================

def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("ts_l"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("ts_r"),
    )
    return interval_join(clicks, purchases, "user_id", bound="15 minutes").select(
        "user_id", "click_id", "purchase_id"
    )


SQL_INTERVAL_JOIN = """
WITH c AS (SELECT user_id, event_id AS click_id, ts
           FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS purchase_id, ts
      FROM events WHERE event_type = 'purchase')
SELECT c.user_id, click_id, purchase_id
FROM c JOIN p ON c.user_id = p.user_id
 AND p.ts >= c.ts - INTERVAL 15 MINUTE
 AND p.ts <= c.ts + INTERVAL 15 MINUTE
"""


# ===========================================================================
# Q: nation_trade_volume — TPC-H Q7 shape: two-nation shipping volume
# by year. Fact⋈fact (lineitem⋈orders) shuffles on the key; supplier,
# customer, and both nation legs broadcast. The symmetric nation-pair
# predicate lands after the nation attach, exactly like Q7.
# ===========================================================================

N1, N2 = "NATION_9", "NATION_10"


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == N1) & (F.col("cust_nation") == N2)
    ) | ((F.col("supp_nation") == N2) & (F.col("cust_nation") == N1))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(volume, "revenue"))
    )


SQL_NATION_TRADE_VOLUME = f"""
SELECT supp_nation, cust_nation, l_year,
  {DSUM.format(e='volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1.0 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = '{N1}' AND n2.n_name = '{N2}')
      OR (n1.n_name = '{N2}' AND n2.n_name = '{N1}'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) t
GROUP BY supp_nation, cust_nation, l_year
"""


# ===========================================================================
# Q: small_quantity_revenue — TPC-H Q17 shape: per-part average-quantity
# threshold (correlated scalar subquery) as a high-cardinality window.
# The brand filter broadcasts into the fact first; the per-part avg is
# a Window over l_partkey — thousands of keys, evenly spread, NOT a
# low-cardinality skew window. avg(l_quantity) is exact across engines
# (integral doubles sum exactly), so the threshold compare is
# deterministic.
# ===========================================================================

from pyspark.sql import Window as _W


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    flt = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    w = _W.partitionBy("l_partkey")
    hits = flt.withColumn("q_thresh", F.lit(0.2) * F.avg("l_quantity").over(w)).filter(
        F.col("l_quantity") < F.col("q_thresh")
    )
    return hits.agg(dsum("l_extendedprice", "s")).select(
        (F.col("s") / F.lit(7.0)).alias("avg_yearly")
    )


SQL_SMALL_QUANTITY_REVENUE = f"""
WITH flt AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#13'
), pavg AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS q_thresh
  FROM flt GROUP BY l_partkey
)
SELECT {DSUM.format(e='l_extendedprice')} / 7.0 AS avg_yearly
FROM flt JOIN pavg USING (l_partkey)
WHERE l_quantity < q_thresh
"""


# ===========================================================================
# Q: prominent_suppliers — TPC-H Q20 shape: nested semi-joins. The
# inner block (name-filtered parts ⋈ lineitem, per-supplier quantity
# threshold) reduces to a tiny supplier-key set that semi-joins into
# the nation-filtered supplier dim. No partsupp table exists in this
# corpus, so lineitem plays the supply relation — same join nesting.
# ===========================================================================

def q_prominent_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    supplier = _t(spark, sf_dir, "supplier")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 120)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey, "left_semi"
        )
        .join(F.broadcast(heavy), supplier.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    )


SQL_PROMINENT_SUPPLIERS = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 120
  )
ORDER BY s_name
"""


# ===========================================================================
# Q: asof_join — backward as-of join (pandas merge_asof / DuckDB ASOF
# JOIN semantics): each click gets the most recent at-or-before
# purchase value for its user. The right side is pre-aggregated to one
# row per (user, ts) so tied timestamps are deterministic on both
# engines.
# ===========================================================================

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineering_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    return asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["pvalue"],
    ).select(
        "event_id", "user_id", F.col("pvalue_asof").alias("last_purchase_value")
    )


SQL_ASOF_JOIN = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, MAX(value) AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, p.pvalue AS last_purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# ===========================================================================
# Q: asof_join_nulls — as-of join where right VALUE columns can be
# NULL. Pins merge_asof/ASOF JOIN row semantics: a right row whose
# value is NULL still matches (its NULL attaches); it is NOT skipped
# in favor of an older non-null value.
# ===========================================================================

def q_asof_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineering_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("_pv"))
        .select(
            "user_id",
            "ts",
            F.when(F.col("_pv") >= 100.0, F.col("_pv")).alias("pvalue"),
        )
    )
    return asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["pvalue"],
    ).select(
        "event_id", "user_id", F.col("pvalue_asof").alias("last_big_purchase")
    )


SQL_ASOF_JOIN_NULLS = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts,
             CASE WHEN MAX(value) >= 100.0 THEN MAX(value) END AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, p.pvalue AS last_big_purchase
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# ===========================================================================
# Q: market_share — TPC-H Q8 shape: a nation's share of regional
# revenue for one part type, by order year. Two fact-fact shuffles
# (lineitem⋈orders); part, customer, supplier, both nation legs, and
# region all broadcast. The share is a ratio of two DECIMAL-exact
# sums, so the division is bit-reproducible across engines.
# ===========================================================================

MKT_REGION, MKT_TYPE, MKT_NATION = "EUROPE", "ECONOMY", "NATION_8"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == MKT_TYPE)
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == MKT_REGION)
    cust_nation = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left_semi"
    ).select(F.col("n_nationkey").alias("c_nkey"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    national = F.when(F.col("supp_nation") == MKT_NATION, volume).otherwise(
        F.lit(0.0)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((dsum(national) / dsum(volume)).alias("mkt_share"))
    )


SQL_MARKET_SHARE = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
  {DSUM.format(e=f"CASE WHEN n2.n_name = '{MKT_NATION}' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
    / {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS mkt_share
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE r_name = '{MKT_REGION}' AND p_type = '{MKT_TYPE}'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_year
"""


# ===========================================================================
# Q: waiting_suppliers — TPC-H Q21 shape: suppliers who were the ONLY
# late shipper on a multi-supplier finalized order. This corpus has no
# l_commitdate/l_receiptdate, so "late" is l_shipdate more than 60
# days after o_orderdate — the exists / not-exists nesting is the
# point and is preserved, expressed as per-order distinct-supplier
# counts over a high-cardinality window (n_supp > 1: the EXISTS;
# n_late_supp = 1 with this row late: the NOT EXISTS on other late
# suppliers).
# ===========================================================================

WAIT_NATION = "NATION_3"


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == WAIT_NATION)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    w = _W.partitionBy("l_orderkey")
    marked = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("is_late"))
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late"), F.col("l_suppkey"))
                ).over(w)
            ),
        )
    )
    hits = marked.filter(
        F.col("is_late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    return (
        hits.join(F.broadcast(supplier), hits.l_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == nation.n_nationkey,
            "left_semi",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


SQL_WAITING_SUPPLIERS = f"""
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), g AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM l GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM l
JOIN g USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE is_late AND n_supp > 1 AND n_late_supp = 1
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = '{WAIT_NATION}')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# ===========================================================================
# Q: product_profit — TPC-H Q9 shape: per-(supplier-nation, order-year)
# profit for a part-name family. This corpus has no partsupp, so unit
# cost is proxied as half the part's retail price — the JOIN TOPOLOGY
# is the point: two fact-fact shuffles (lineitem⋈orders), part /
# supplier / nation broadcast, and the name filter pushed into the
# part scan before the broadcast.
# ===========================================================================


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) - F.lit(
        0.5
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(amount, "sum_profit"))
    )


SQL_PRODUCT_PROFIT = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
  {DSUM.format(e='l_extendedprice * (1.0 - l_discount) - 0.5 * p_retailprice * l_quantity')}
    AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


# ===========================================================================
# Q: returned_revenue — TPC-H Q10 shape: customers ranked by revenue
# they returned in one quarter. lineitem filtered on returnflag,
# orders on the date window, customer+nation broadcast; top 20 with a
# deterministic key tiebreak.
# ===========================================================================


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_RETURNED_REVENUE = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
  {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ===========================================================================
# Q: top_supplier — TPC-H Q15 shape: supplier(s) with the maximum
# revenue in one quarter. The per-supplier aggregate is persisted
# (lazily — one compute) and self-compared against its own broadcast
# 1-row max, so DECIMAL-exact revenues make the equality portable.
# ===========================================================================


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supplier = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_supp = persist_tracked(
        li.groupBy("l_suppkey").agg(dsum(revenue, "total_revenue"))
    )
    top = per_supp.agg(F.max("total_revenue").alias("_max"))
    return (
        per_supp.join(
            F.broadcast(top), F.col("total_revenue") == F.col("_max")
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


SQL_TOP_SUPPLIER = f"""
WITH r AS (
  SELECT l_suppkey, {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')}
    AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM r JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM r)
ORDER BY s_suppkey
"""


# ===========================================================================
# Q: large_volume_customers — TPC-H Q18 shape: orders whose total
# quantity exceeds a threshold, with their customers. The HAVING
# aggregate runs FIRST (map-side-combined groupBy on the fact table),
# so only qualifying orderkeys reach the joins.
# ===========================================================================

LVC_QTY = 300


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > LVC_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


SQL_LARGE_VOLUME_CUSTOMERS = f"""
WITH big AS (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > {LVC_QTY}
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# ===========================================================================
# Q: disjunctive_revenue — TPC-H Q19 shape: revenue under an OR of
# three conjunctive brand/size/quantity envelopes. The disjunction
# stays a single scan predicate (no union of scans), and the part
# side of each envelope pushes into the broadcast build.
# ===========================================================================


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((b == "Brand#11") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#14") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#17") & s.between(1, 15) & q.between(20, 30))
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(dsum(revenue, "revenue"))
    )


SQL_DISJUNCTIVE_REVENUE = f"""
SELECT {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# ===========================================================================
# Q: important_parts — TPC-H Q11 shape: parts whose revenue exceeds a
# fixed fraction of TOTAL revenue. The scalar threshold is a 1-row
# broadcast cross join against the persisted per-part aggregate — the
# HAVING-over-global-subquery pattern with no single-partition window.
# ===========================================================================

IMP_FRACTION = 0.0007


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_part = persist_tracked(li.groupBy("l_partkey").agg(dsum(revenue, "value")))
    total = per_part.agg(
        F.expr(
            "CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE)"
        ).alias("_total")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > IMP_FRACTION * F.col("_total"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), F.col("l_partkey").asc())
    )


SQL_IMPORTANT_PARTS = f"""
WITH v AS (
  SELECT l_partkey, {DSUM.format(e='l_extendedprice * (1.0 - l_discount)')}
    AS value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, value
FROM v
WHERE value > {IMP_FRACTION} * (
  SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) FROM v
)
ORDER BY value DESC, l_partkey ASC
"""


# ===========================================================================
# Q: late_order_priority — TPC-H Q4 shape: EXISTS decorrelated to a
# LEFT SEMI join.  The testdata lineitem has no commit/receipt dates
# (ref: TPC-H Q4 uses l_commitdate < l_receiptdate), so the late-line
# predicate is l_shipdate > o_orderdate — same plan shape: the semi
# join hashes on the equi key (l_orderkey = o_orderkey) and applies
# the inequality as a residual, so lineitem is scanned once, never
# duplicated per matching line, and the agg sees each order at most
# once.  At 100 TB the orders side is date-pruned before the shuffle.
# ===========================================================================

def q_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    lineitem = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        lineitem,
        (orders.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_LATE_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ===========================================================================
# Q: forecast_revenue — TPC-H Q6 shape: pure scan + filter + scalar
# agg.  The plan to check at scale: every predicate (date range,
# discount band, quantity cap) must appear in PushedFilters on the
# parquet scan, ReadSchema must hold only the four touched columns,
# and the agg is a two-stage partial_sum with no shuffle beyond the
# single-row final exchange.
# ===========================================================================

def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


SQL_FORECAST_REVENUE = f"""
SELECT {DSUM.format(e='l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""



# ===========================================================================
# Q: shipmode_priority — TPC-H Q12 shape: lineitem⋈orders shuffle join,
# late-shipment predicate, per-mode conditional priority census. The
# corpus has no l_shipmode/commitdate/receiptdate, so the mode is a
# deterministic l_linenumber bucket and "late" is shipdate ≥ 60 days
# after the order date (same join/filter/conditional-agg plan as Q12).
# ===========================================================================

def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    mode = F.element_at(
        F.array(F.lit("MAIL"), F.lit("SHIP"), F.lit("AIR")),
        (F.col("l_linenumber") % 3 + 1).cast("int"),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select(mode.alias("ship_mode"), high.alias("_high"))
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(F.col("_high"), 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(F.col("_high"), 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


SQL_SHIPMODE_PRIORITY = """
SELECT
  ['MAIL', 'SHIP', 'AIR'][l_linenumber % 3 + 1] AS ship_mode,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


# ===========================================================================
# Q: promo_revenue_monthly — TPC-H Q14 shape per ship month (the
# one-row classic lives in queries_analytics.promo_revenue); lineitem⋈
# part with part broadcast. Both ratio operands route
# through DECIMAL(18,6) so the final double division is deterministic.
# ===========================================================================

def q_promo_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"))
        .agg(dsum(promo_rev, "_promo"), dsum(rev, "_total"))
    )
    return agg.select(
        "ship_month",
        (F.lit(100.0) * F.col("_promo") / F.col("_total")).alias("promo_pct"),
    )


SQL_PROMO_REVENUE_MONTHLY = f"""
SELECT
  CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
  100.0 * {DSUM.format(e="CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
        / {DSUM.format(e="l_extendedprice * (1.0 - l_discount)")} AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""


RELATIONAL_QUERIES: dict[str, tuple] = {
    "late_order_priority": (
        q_late_order_priority,
        SQL_LATE_ORDER_PRIORITY,
        "TPC-H Q4 shape",
    ),
    "forecast_revenue": (q_forecast_revenue, SQL_FORECAST_REVENUE, "TPC-H Q6 shape"),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN, "as-of join (merge_asof/ASOF JOIN)"),
    "asof_join_nulls": (
        q_asof_join_nulls,
        SQL_ASOF_JOIN_NULLS,
        "as-of join NULL-value row semantics",
    ),
    "shipmode_priority": (
        q_shipmode_priority,
        SQL_SHIPMODE_PRIORITY,
        "TPC-H Q12 shape",
    ),
    "promo_revenue_monthly": (
        q_promo_revenue_monthly,
        SQL_PROMO_REVENUE_MONTHLY,
        "TPC-H Q14 shape, per-month",
    ),
    "market_share": (q_market_share, SQL_MARKET_SHARE, "TPC-H Q8 shape"),
    "product_profit": (q_product_profit, SQL_PRODUCT_PROFIT, "TPC-H Q9 shape"),
    "returned_revenue": (q_returned_revenue, SQL_RETURNED_REVENUE, "TPC-H Q10 shape"),
    "important_parts": (q_important_parts, SQL_IMPORTANT_PARTS, "TPC-H Q11 shape"),
    "top_supplier": (q_top_supplier, SQL_TOP_SUPPLIER, "TPC-H Q15 shape"),
    "large_volume_customers": (
        q_large_volume_customers,
        SQL_LARGE_VOLUME_CUSTOMERS,
        "TPC-H Q18 shape",
    ),
    "disjunctive_revenue": (
        q_disjunctive_revenue,
        SQL_DISJUNCTIVE_REVENUE,
        "TPC-H Q19 shape",
    ),
    "waiting_suppliers": (
        q_waiting_suppliers,
        SQL_WAITING_SUPPLIERS,
        "TPC-H Q21 shape",
    ),
    "nation_trade_volume": (
        q_nation_trade_volume,
        SQL_NATION_TRADE_VOLUME,
        "TPC-H Q7 shape",
    ),
    "small_quantity_revenue": (
        q_small_quantity_revenue,
        SQL_SMALL_QUANTITY_REVENUE,
        "TPC-H Q17 shape",
    ),
    "prominent_suppliers": (
        q_prominent_suppliers,
        SQL_PROMINENT_SUPPLIERS,
        "TPC-H Q20 shape",
    ),
    "interval_join": (q_interval_join, SQL_INTERVAL_JOIN, "range-join,streaming T-upgrade"),
    "order_count_distribution": (
        q_order_count_distribution,
        SQL_ORDER_COUNT_DISTRIBUTION,
        "J4-outer,A6 two-level",
    ),
    "supplier_part_counts": (
        q_supplier_part_counts,
        SQL_SUPPLIER_PART_COUNTS,
        "U2-anti,A7",
    ),
    "min_cost_supplier": (q_min_cost_supplier, SQL_MIN_COST_SUPPLIER, "W2-argmin"),
    "shipping_priority": (q_shipping_priority, SQL_SHIPPING_PRIORITY, "J4,P5,O1,O2,A5"),
    "local_supplier_volume": (
        q_local_supplier_volume,
        SQL_LOCAL_SUPPLIER_VOLUME,
        "J1,J2,J4 multi-join",
    ),
    "filtered_events": (q_filtered_events, SQL_FILTERED_EVENTS, "P4,P5,A5"),
    "session_window": (q_session_window, SQL_SESSION_WINDOW, "streaming-upgrade"),
    "sliding_window": (q_sliding_window, SQL_SLIDING_WINDOW, "streaming-upgrade"),
}

"""Query registry: every SURVEY.md §2 operator as a (Spark callable,
DuckDB oracle SQL) pair.

Contract (driver verify): each callable takes ``(spark, sf_dir)`` and
returns a DataFrame; the oracle SQL runs on the same parquet files in
DuckDB; row count, schema, and an order-insensitive value hash must
match. Two rules keep that achievable:

1. **Identical column aliases** on both sides — the compare sorts
   columns by name.
2. **Order-independent numerics** — double sums are order-dependent
   under partial aggregation, so every sum routes through
   ``DECIMAL(18,6)`` (associative → exact → identical on any engine /
   any partitioning) and casts the final value back to double. Scalar
   per-row double math (a*b, a/b) is IEEE-deterministic and needs no
   such care.

The blockchain-shaped operators (log_index, transactions/link aggs,
enrichment joins) run over a ``transfers`` frame derived
deterministically from the driver's ``events`` table, mirroring
FIXTURES.md §1.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineering_spark.caching import persist_tracked
from dataengineering_spark.catalog import read_table
from dataengineering_spark.functions.scalars import (
    conditional_sum,
    davg,
    dsum,
    extract_nanos_timestamp,
    extract_nanos_timestamp_parts,
    scale_by_decimals,
    conditional_reset,
)
from dataengineering_spark.operators.aggregates import (
    chain_state_summary,
    link_inputs_agg,
    link_outputs_agg,
    transactions_agg,
)
from dataengineering_spark.operators.joins import (
    attach_constant_price,
    enrich_transfers,
    enrich_with_prices,
)
from dataengineering_spark.operators.setops import missing_keys, union_all
from dataengineering_spark.operators.windows import log_index


@dataclass(frozen=True)
class QuerySpec:
    """One inventory entry: Spark implementation + oracle SQL.

    ``sql`` is None for ops whose semantics aren't SQL-expressible
    (driver then records a weaker rows-only check).
    """

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None
    survey_ref: str  # SURVEY.md §2 ids this query covers


# --- SQL helpers (the oracle half of functions/scalars.py) -----------------

def dsum_sql(expr: str) -> str:
    """Oracle-exact sum: see functions.scalars.dsum."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"


def davg_sql(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT({expr})"


def csum_sql(expr: str, cond: str) -> str:
    """Oracle-exact conditional sum with empty-slice→0 (pandas)
    semantics: see functions.scalars.conditional_sum."""
    return (
        "COALESCE(CAST(CAST(SUM(CASE WHEN "
        + cond
        + " THEN CAST("
        + expr
        + " AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE), 0.0)"
    )


# --- transfers derivation (FIXTURES.md §1 over the events table) -----------
#
# Deterministic column mapping so the blockchain-shaped operators have a
# fact table at every scale factor. Kept in lockstep with TRANSFERS_SQL.

def transfers_from_events(events: DataFrame) -> DataFrame:
    typ = (
        F.when(F.col("event_type") == "click", 0)
        .when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 0)
        .otherwise(1)
    )
    fee = F.col("value") * F.lit(0.01)
    return events.select(
        F.col("event_id").cast("string").alias("transfer_id"),
        F.concat(F.lit("tx"), (F.col("event_id") % 500).cast("string")).alias("transaction_id"),
        F.concat(F.lit("s"), (F.col("user_id") % 37).cast("string")).alias("sender_address"),
        F.concat(F.lit("r"), (F.col("event_id") % 101).cast("string")).alias("receiver_address"),
        F.concat(F.lit("tk"), (F.col("event_id") % 23).cast("string")).alias("token_address"),
        typ.alias("type"),
        F.col("value").alias("coin_value"),
        fee.alias("fee"),
        (F.col("value") * F.lit(2.5)).alias("coin_value_usd"),
        (fee * F.lit(2.5)).alias("fee_usd"),
        F.col("event_id").alias("block"),
        F.col("ts").alias("block_date_time"),
    )


TRANSFERS_SQL = """
SELECT
  CAST(event_id AS VARCHAR)                         AS transfer_id,
  'tx' || CAST(event_id % 500 AS VARCHAR)           AS transaction_id,
  's'  || CAST(user_id % 37 AS VARCHAR)             AS sender_address,
  'r'  || CAST(event_id % 101 AS VARCHAR)           AS receiver_address,
  'tk' || CAST(event_id % 23 AS VARCHAR)            AS token_address,
  CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
                  WHEN 'purchase' THEN 2 WHEN 'signup' THEN 0
                  ELSE 1 END                        AS type,
  value                                             AS coin_value,
  value * 0.01                                      AS fee,
  value * 2.5                                       AS coin_value_usd,
  (value * 0.01) * 2.5                              AS fee_usd,
  event_id                                          AS block,
  ts                                                AS block_date_time
FROM events
"""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, name, sf_dir)


# ===========================================================================
# Q: pricing_summary — flagship relational agg (A5/A1 family; TPC-H Q1 shape)
# ===========================================================================

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = f"""
SELECT
  l_returnflag, l_linestatus,
  {dsum_sql('l_quantity')} AS sum_qty,
  {dsum_sql('l_extendedprice')} AS sum_base_price,
  {dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
  {dsum_sql('(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)')} AS sum_charge,
  {davg_sql('l_quantity')} AS avg_qty,
  {davg_sql('l_extendedprice')} AS avg_price,
  {davg_sql('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


# ===========================================================================
# Q: log_index — W1 row_number window over transfers
# ===========================================================================

def q_log_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = transfers_from_events(_t(spark, sf_dir, "events"))
    out = log_index(
        tr,
        partition_by="transaction_id",
        sort_columns=["block_date_time", "transfer_id"],
    )
    return out.select("transfer_id", "transaction_id", "log_index")


SQL_LOG_INDEX = f"""
WITH transfers AS ({TRANSFERS_SQL})
SELECT transfer_id, transaction_id,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY transaction_id
    ORDER BY block_date_time, transfer_id) AS INT) AS log_index
FROM transfers
"""


# ===========================================================================
# Q: transactions_agg / link_inputs_agg / link_outputs_agg — A1-A3
# ===========================================================================

def q_transactions_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transactions_agg(transfers_from_events(_t(spark, sf_dir, "events")))


SQL_TRANSACTIONS_AGG = f"""
WITH transfers AS ({TRANSFERS_SQL})
SELECT transaction_id,
  {csum_sql('coin_value', 'type = 0')} AS external_value,
  {csum_sql('coin_value_usd', 'type = 0')} AS external_value_usd,
  {csum_sql('coin_value', 'type = 1')} AS internal_value,
  {csum_sql('coin_value_usd', 'type = 1')} AS internal_value_usd,
  {csum_sql('coin_value_usd', 'type = 2')} AS token_value_usd,
  {csum_sql('fee', 'type IS NOT NULL')} AS fee,
  {csum_sql('fee_usd', 'type IS NOT NULL')} AS fee_usd,
  MAX(block_date_time) AS block_date_time
FROM transfers
GROUP BY transaction_id
"""


def q_link_inputs_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_inputs_agg(transfers_from_events(_t(spark, sf_dir, "events")))


SQL_LINK_INPUTS_AGG = f"""
WITH transfers AS ({TRANSFERS_SQL})
SELECT transaction_id, sender_address,
  {csum_sql('coin_value + fee', 'type IN (0, 1)')} AS value,
  {csum_sql('coin_value_usd + fee_usd', 'type IN (0, 1)')} AS value_usd
FROM transfers
GROUP BY transaction_id, sender_address
"""


def q_link_outputs_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_outputs_agg(transfers_from_events(_t(spark, sf_dir, "events")))


SQL_LINK_OUTPUTS_AGG = f"""
WITH transfers AS ({TRANSFERS_SQL})
SELECT transaction_id, receiver_address,
  {csum_sql('coin_value', 'type IN (0, 1)')} AS value,
  {csum_sql('coin_value_usd', 'type IN (0, 1)')} AS value_usd
FROM transfers
GROUP BY transaction_id, receiver_address
"""


# ===========================================================================
# Q: chain_state_pivot — A4 pivot-max summary
# ===========================================================================

def q_chain_state_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = transfers_from_events(_t(spark, sf_dir, "events")).select(
        F.col("token_address").alias("chain"),
        F.col("coin_value_usd").alias("price"),
        "block",
        "block_date_time",
    )
    return chain_state_summary(tr, chain_col="chain")


SQL_CHAIN_STATE_PIVOT = f"""
WITH transfers AS ({TRANSFERS_SQL})
SELECT token_address AS chain,
  MAX(coin_value_usd) AS price,
  MAX(block) AS block,
  MAX(block_date_time) AS block_date_time
FROM transfers
GROUP BY token_address
"""


# ===========================================================================
# Q: enrichment_pipeline — the reference's full streaming-batch transform:
#   W1 log_index → J1 left price join → J2 inner metadata join →
#   F1 decimals scaling → F2 conditional reset → F4 USD math → A1 agg
#   (reference clickhouse/v1/operator.py:440-499). Flagship for entry().
# ===========================================================================

def q_enrichment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = transfers_from_events(_t(spark, sf_dir, "events"))
    # dimension: token metadata derived from the token universe
    # NB: derivations keep every product within 6 decimal digits so the
    # DECIMAL(18,6) oracle cast never has to round (7+-digit values land
    # exactly on the .5 rounding boundary, where Spark's BigDecimal path
    # and DuckDB's double-multiply path disagree by 1 ulp).
    metadata = (
        tr.select("token_address")
        .distinct()
        .select(
            "token_address",
            F.concat(F.lit("SYM"), F.substring("token_address", 3, 10)).alias("symbol"),
            (F.length("token_address") % 3).cast("int").alias("decimals"),
        )
    )
    # Barrier on the derived dimension: Catalyst's projection collapse
    # would otherwise re-inline the metadata subtree (and its distinct
    # over the fact) into BOTH its consumers — the price derivation and
    # the enrichment join — so the fact would be scanned three times.
    # Persisting the (tiny: |token universe|) dim caps it at two scans:
    # one to build the dim, one for the fact side of the join. At 100 TB
    # the saved pass dominates; at bench scale it's still net-positive.
    # Tracked, so the caller's tracking_scope() releases it.
    metadata = persist_tracked(metadata)
    # dimension: prices keyed by symbol (deterministic derivation)
    prices = metadata.select(
        "symbol",
        (F.length("symbol") * F.lit(2.0)).alias("coin_price_usd"),
    ).distinct()
    enriched_meta = enrich_with_prices(metadata, prices, on="symbol")  # J1 left
    tr = log_index(tr, "transaction_id", ["block_date_time", "transfer_id"])  # W1
    joined = enrich_transfers(tr, enriched_meta, on="token_address")  # J2 inner
    joined = joined.na.fill({"coin_price_usd": 0.0})  # F6
    decimals = conditional_reset("decimals", F.col("type").isin(0, 1), 0)  # F2
    scaled = scale_by_decimals("coin_value", decimals)  # F1
    fee0 = conditional_reset("fee", F.col("log_index") > 1, 0.0)  # F3 (tron rule)
    enriched = joined.select(
        "transaction_id",
        "type",
        scaled.alias("coin_value"),
        (scaled * F.col("coin_price_usd")).alias("coin_value_usd"),  # F4
        fee0.alias("fee"),
        (fee0 * F.col("coin_price_usd")).alias("fee_usd"),
        "block_date_time",
    )
    return transactions_agg(enriched)  # A1


SQL_ENRICHMENT_PIPELINE = f"""
WITH transfers0 AS ({TRANSFERS_SQL}),
metadata AS (
  SELECT token_address,
         'SYM' || substr(token_address, 3, 10) AS symbol,
         CAST(length(token_address) % 3 AS INT) AS decimals
  FROM (SELECT DISTINCT token_address FROM transfers0)
),
prices AS (
  SELECT DISTINCT symbol, length(symbol) * 2.0 AS coin_price_usd FROM metadata
),
enriched_meta AS (
  SELECT m.token_address, m.symbol, m.decimals, p.coin_price_usd
  FROM metadata m LEFT JOIN prices p USING (symbol)
),
indexed AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY transaction_id
      ORDER BY block_date_time, transfer_id) AS INT) AS log_index
  FROM transfers0
),
joined AS (
  SELECT t.*, em.decimals, COALESCE(em.coin_price_usd, 0.0) AS coin_price_usd
  FROM indexed t INNER JOIN enriched_meta em USING (token_address)
),
enriched AS (
  SELECT transaction_id, type,
    coin_value / power(10.0, CASE WHEN type IN (0,1) THEN 0 ELSE decimals END)
      AS coin_value,
    (coin_value / power(10.0, CASE WHEN type IN (0,1) THEN 0 ELSE decimals END))
      * coin_price_usd AS coin_value_usd,
    CASE WHEN log_index > 1 THEN 0.0 ELSE fee END AS fee,
    (CASE WHEN log_index > 1 THEN 0.0 ELSE fee END) * coin_price_usd AS fee_usd,
    block_date_time
  FROM joined
)
SELECT transaction_id,
  {csum_sql('coin_value', 'type = 0')} AS external_value,
  {csum_sql('coin_value_usd', 'type = 0')} AS external_value_usd,
  {csum_sql('coin_value', 'type = 1')} AS internal_value,
  {csum_sql('coin_value_usd', 'type = 1')} AS internal_value_usd,
  {csum_sql('coin_value_usd', 'type = 2')} AS token_value_usd,
  {csum_sql('fee', 'type IS NOT NULL')} AS fee,
  {csum_sql('fee_usd', 'type IS NOT NULL')} AS fee_usd,
  MAX(block_date_time) AS block_date_time
FROM enriched
GROUP BY transaction_id
"""


# ===========================================================================
# Q: constant_key_join — J3 Ripple degenerate join + F5 flow math
# ===========================================================================

def q_constant_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = transfers_from_events(_t(spark, sf_dir, "events"))
    # JVM-side literal relation: a Python-list createDataFrame would
    # route through a Python-RDD plan whose first collect pays the
    # Python-worker spawn (~2 s measured) — pure overhead for 1 row.
    price_row = spark.sql("SELECT CAST(0.51 AS DOUBLE) AS coin_price_usd")
    withp = attach_constant_price(tr, price_row)
    outgoing = F.col("coin_value") + F.col("fee")
    return withp.groupBy("sender_address").agg(
        dsum(outgoing, "outgoing"),
        dsum("coin_value", "incoming"),
        dsum(outgoing * F.col("coin_price_usd"), "outgoing_usd"),
        dsum(F.col("coin_value") * F.col("coin_price_usd"), "incoming_usd"),
    )


SQL_CONSTANT_KEY_JOIN = f"""
WITH transfers AS ({TRANSFERS_SQL}),
price AS (SELECT 0.51 AS coin_price_usd)
SELECT sender_address,
  {dsum_sql('coin_value + fee')} AS outgoing,
  {dsum_sql('coin_value')} AS incoming,
  {dsum_sql('(coin_value + fee) * coin_price_usd')} AS outgoing_usd,
  {dsum_sql('coin_value * coin_price_usd')} AS incoming_usd
FROM transfers CROSS JOIN price
GROUP BY sender_address
"""


# ===========================================================================
# Q: top1_by_order — W2/O2 head-block probe
# ===========================================================================

def q_top1_by_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("event_id").desc())
        .limit(1)
        .select("event_id", "ts", "user_id", "event_type")
    )


SQL_TOP1_BY_ORDER = """
SELECT event_id, ts, user_id, event_type
FROM events ORDER BY event_id DESC LIMIT 1
"""


# ===========================================================================
# Q: grouped_counts — A6/V1 per-date count reconciliation
# ===========================================================================

def q_grouped_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.to_date("o_orderdate").alias("dt"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_GROUPED_COUNTS = """
SELECT CAST(o_orderdate AS DATE) AS dt, COUNT(*) AS n
FROM orders GROUP BY 1
"""


# ===========================================================================
# Q: distinct_universe — A7 distinct token/flag universe
# ===========================================================================

def q_distinct_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


SQL_DISTINCT_UNIVERSE = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
"""


# ===========================================================================
# Q: union_all — U1
# ===========================================================================

def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    open_o = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority", F.lit("open").alias("bucket")
    )
    done_o = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderpriority", F.lit("finished").alias("bucket")
    )
    return union_all(open_o, done_o)


SQL_UNION_ALL = """
SELECT o_orderkey, o_orderpriority, 'open' AS bucket
FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT o_orderkey, o_orderpriority, 'finished' AS bucket
FROM orders WHERE o_orderstatus = 'F'
"""


# ===========================================================================
# Q: missing_keys — U2 validation set-difference (customers w/o orders)
# ===========================================================================

def q_missing_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return missing_keys(
        customer.select(F.col("c_custkey").alias("custkey")),
        orders.select(F.col("o_custkey").alias("custkey")),
        on="custkey",
    )


SQL_MISSING_KEYS = """
SELECT DISTINCT c_custkey AS custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


# ===========================================================================
# Q: dedup_exact — A8 dedup with deterministic survivor (min id per key)
# ===========================================================================

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.min("doc_id").alias("first_doc"),
        F.count(F.lit(1)).alias("n_docs"),
    )


SQL_DEDUP_EXACT = """
SELECT lang, source, MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
FROM documents GROUP BY lang, source
"""


# ===========================================================================
# Q: scale_and_reset — F1/F2/F3 scalar pipeline over lineitem ⋈ part
# ===========================================================================

def q_scale_and_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    dim = part.select("p_partkey", (F.col("p_size") % 4).alias("decimals"))
    joined = li.join(F.broadcast(dim), li.l_partkey == dim.p_partkey, "inner")
    scaled = scale_by_decimals("l_extendedprice", "decimals")
    fee = F.col("l_tax") * F.col("l_extendedprice")
    fee0 = F.when(F.col("l_linenumber") > 1, F.lit(0.0)).otherwise(fee)
    return joined.groupBy("l_returnflag").agg(
        dsum(scaled, "sum_scaled"),
        dsum(fee0, "sum_fee"),
    )


SQL_SCALE_AND_RESET = f"""
SELECT l_returnflag,
  {dsum_sql('l_extendedprice / power(10.0, p_size % 4)')} AS sum_scaled,
  {dsum_sql('CASE WHEN l_linenumber > 1 THEN 0.0 ELSE l_tax * l_extendedprice END')} AS sum_fee
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY l_returnflag
"""


# ===========================================================================
# Q: full_outer_join — J4 (per-nation customer vs supplier counts)
# ===========================================================================

def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return c.join(s, on="nationkey", how="full").select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


SQL_FULL_OUTER_JOIN = """
WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
           FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
           FROM supplier GROUP BY 1)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


# ===========================================================================
# Q: hedera_extract — F7 nanosecond timestamp recovery
# ===========================================================================

def q_hedera_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    txn_id = F.concat(
        F.lit("0.0."),
        F.col("user_id").cast("string"),
        F.lit("-"),
        (F.lit(1651341539) + F.col("event_id")).cast("string"),
        F.lit("-"),
        (F.lit(100000000) + (F.col("event_id") % 899999999)).cast("string"),
    )
    secs, nanos = extract_nanos_timestamp_parts(txn_id)
    return ev.select(
        "event_id",
        txn_id.alias("txn_id"),
        # Canonical string + split BIGINTs: a DECIMAL(20,9) here exceeds
        # int64-backed decimal width in DuckDB's fetch path, so the
        # cross-engine comparator would see float64 vs decimal.
        extract_nanos_timestamp(txn_id, as_decimal=False).alias("consensus_ts"),
        secs.alias("consensus_secs"),
        nanos.alias("consensus_nanos"),
    )


SQL_HEDERA_EXTRACT = """
WITH ids AS (
  SELECT event_id,
    '0.0.' || CAST(user_id AS VARCHAR) || '-'
      || CAST(1651341539 + event_id AS VARCHAR) || '-'
      || CAST(100000000 + (event_id % 899999999) AS VARCHAR) AS txn_id
  FROM events
)
SELECT event_id, txn_id,
  replace(regexp_replace(txn_id, '^\\d+\\.\\d+\\.\\d+-', ''), '-', '.') AS consensus_ts,
  CAST(split_part(regexp_replace(txn_id, '^\\d+\\.\\d+\\.\\d+-', ''), '-', 1) AS BIGINT) AS consensus_secs,
  CAST(split_part(regexp_replace(txn_id, '^\\d+\\.\\d+\\.\\d+-', ''), '-', 2) AS BIGINT) AS consensus_nanos
FROM ids
"""


# ===========================================================================
# Q: sync_next_range — T2 incremental sync offset computation
# ===========================================================================

def q_sync_next_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    last_synced, batch_size, streaming_lag = 2000, 5000, 100
    head = ev.agg(F.max("event_id").alias("head_block"))
    return head.select(
        F.lit(last_synced).cast("long").alias("last_synced_block"),
        "head_block",
        F.least(
            F.lit(last_synced + batch_size).cast("long"),
            F.col("head_block") - F.lit(streaming_lag),
        ).alias("latest_block"),
        (
            F.least(
                F.lit(last_synced + batch_size).cast("long"),
                F.col("head_block") - F.lit(streaming_lag),
            )
            > F.lit(last_synced)
        ).alias("should_run"),
    )


SQL_SYNC_NEXT_RANGE = """
WITH head AS (SELECT MAX(event_id) AS head_block FROM events)
SELECT CAST(2000 AS BIGINT) AS last_synced_block,
       head_block,
       LEAST(CAST(2000 + 5000 AS BIGINT), head_block - 100) AS latest_block,
       LEAST(CAST(2000 + 5000 AS BIGINT), head_block - 100) > 2000 AS should_run
FROM head
"""


# ===========================================================================
# Q: tumbling_window — streaming-upgrade windowed agg (SURVEY §2.9 note)
# ===========================================================================

def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


SQL_TUMBLING_WINDOW = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, {dsum_sql('value')} AS sum_value
FROM events GROUP BY 1, 2
"""


# ===========================================================================
# Registry
# ===========================================================================

QUERIES: dict[str, QuerySpec] = {
    "pricing_summary": QuerySpec(q_pricing_summary, SQL_PRICING_SUMMARY, "A5,A1,F4"),
    "log_index": QuerySpec(q_log_index, SQL_LOG_INDEX, "W1,O1"),
    "transactions_agg": QuerySpec(q_transactions_agg, SQL_TRANSACTIONS_AGG, "A1"),
    "link_inputs_agg": QuerySpec(q_link_inputs_agg, SQL_LINK_INPUTS_AGG, "A2"),
    "link_outputs_agg": QuerySpec(q_link_outputs_agg, SQL_LINK_OUTPUTS_AGG, "A3"),
    "chain_state_pivot": QuerySpec(q_chain_state_pivot, SQL_CHAIN_STATE_PIVOT, "A4"),
    "enrichment_pipeline": QuerySpec(
        q_enrichment_pipeline, SQL_ENRICHMENT_PIPELINE, "T5,W1,J1,J2,F1-F6,A1"
    ),
    "constant_key_join": QuerySpec(q_constant_key_join, SQL_CONSTANT_KEY_JOIN, "J3,F5"),
    "top1_by_order": QuerySpec(q_top1_by_order, SQL_TOP1_BY_ORDER, "W2,O2,O3"),
    "grouped_counts": QuerySpec(q_grouped_counts, SQL_GROUPED_COUNTS, "A6,V1,F8"),
    "distinct_universe": QuerySpec(q_distinct_universe, SQL_DISTINCT_UNIVERSE, "A7"),
    "union_all": QuerySpec(q_union_all, SQL_UNION_ALL, "U1,P4"),
    "missing_keys": QuerySpec(q_missing_keys, SQL_MISSING_KEYS, "U2,V2"),
    "dedup_exact": QuerySpec(q_dedup_exact, SQL_DEDUP_EXACT, "A8"),
    "scale_and_reset": QuerySpec(q_scale_and_reset, SQL_SCALE_AND_RESET, "F1,F2,F3,P1"),
    "full_outer_join": QuerySpec(q_full_outer_join, SQL_FULL_OUTER_JOIN, "J4"),
    "hedera_extract": QuerySpec(q_hedera_extract, SQL_HEDERA_EXTRACT, "F7,T8"),
    "sync_next_range": QuerySpec(q_sync_next_range, SQL_SYNC_NEXT_RANGE, "T2,A5"),
    "tumbling_window": QuerySpec(q_tumbling_window, SQL_TUMBLING_WINDOW, "T2-upgrade,F8"),
}


def _register_extra_queries() -> None:
    """Merge the LLM-pipeline and extended-relational registries."""
    from dataengineering_spark.plans.queries_llm import LLM_QUERIES
    from dataengineering_spark.plans.queries_relational import RELATIONAL_QUERIES
    from dataengineering_spark.plans.queries_analytics import ANALYTICS_QUERIES
    from dataengineering_spark.plans.queries_robust import ROBUST_QUERIES
    from dataengineering_spark.plans.queries_patterns import PATTERN_QUERIES
    from dataengineering_spark.plans.queries_frontier import FRONTIER_QUERIES
    from dataengineering_spark.plans.queries_segments import SEGMENT_QUERIES
    from dataengineering_spark.plans.queries_drift import DRIFT_QUERIES
    from dataengineering_spark.plans.queries_lifecycle import LIFECYCLE_QUERIES
    from dataengineering_spark.plans.queries_growth import GROWTH_QUERIES
    from dataengineering_spark.plans.queries_audit import AUDIT_QUERIES
    from dataengineering_spark.plans.queries_eval import EVAL_QUERIES
    from dataengineering_spark.plans.queries_curation import CURATION_QUERIES

    for extra in (
        LLM_QUERIES,
        RELATIONAL_QUERIES,
        ANALYTICS_QUERIES,
        ROBUST_QUERIES,
        PATTERN_QUERIES,
        FRONTIER_QUERIES,
        SEGMENT_QUERIES,
        DRIFT_QUERIES,
        LIFECYCLE_QUERIES,
        GROWTH_QUERIES,
        AUDIT_QUERIES,
        EVAL_QUERIES,
        CURATION_QUERIES,
    ):
        for name, (fn, sql, ref) in extra.items():
            # a repeated name would silently shadow the earlier query in
            # queries()/oracle_sql() (found the hard way with a second
            # promo_revenue, round 6) — fail at import instead
            if name in QUERIES:
                raise ValueError(f"duplicate registry query name: {name}")
            QUERIES[name] = QuerySpec(fn, sql, ref)


_register_extra_queries()


# The external correctness driver checks only the FIRST 50 entries of
# queries() per round; tests/test_oracle_parity.py checks all of them on
# every run.  The window order is computed on each call from the
# CORRECTNESS_r<N>.json ledgers the driver drops at the repo root, so
# there is no generated map to go stale.
_REPO_ROOT = Path(__file__).resolve().parents[2]

# Hand-kept pins: query -> the round its code last changed.  Only a
# driver green from that round on counts, so a pin expires by itself
# once a newer ledger shows the query green.
_EDITED_IN: dict[str, int] = {
    # r14 optimization-round rewrites (VERDICT r14 #1)
    "minhash_lsh": 14,
    "dup_method_agreement": 14,
    "dedup_clusters_forest": 14,
    "blocking_quality": 14,
    "ngram_novelty": 14,
    "dsir_resample": 14,
    "quantile_normalize": 14,
    "semantic_reps_incremental": 14,
    # tracked-persist release, after its r14 green
    "enrichment_pipeline": 15,
    "top_supplier": 15,
    "important_parts": 15,
    # NULL-safe driver-gate sort for the quintile cuts
    "rfm_segments": 15,
    # synth and decode lanes moved onto udf_registry.map_rows
    "media_durations": 15,
    "image_decode": 15,
    "image_resize": 15,
    "image_neardup": 15,
    "image_dedup_survivors": 15,
    "image_bucket_accounting": 15,
    "image_verify_rate": 15,
    "audio_neardup": 15,
    "video_neardup": 15,
    "jpeg_meta": 15,
    "frame_sample": 15,
    "pcm_stats": 15,
}


def _window_order(
    names: list[str],
    ledgers: dict[int, dict[str, dict]],
    edited_in: dict[str, int],
) -> list[str]:
    """Order ``names`` (registry order) by their driver evidence.

    ``ledgers`` maps a round number to that round's CORRECTNESS rows.
    Each query gets (last_green, last_checked) over all rounds.  Reds
    come first: checked but never green, a later check that is not
    green, or no green from its ``edited_in`` round on.  Never-checked
    queries come next, then greens stalest first.  Ties break on
    registry order.
    """
    last_green: dict[str, int] = {}
    last_checked: dict[str, int] = {}
    for rnd, rows in ledgers.items():
        for name, row in rows.items():
            last_checked[name] = max(last_checked.get(name, -1), rnd)
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                last_green[name] = max(last_green.get(name, -1), rnd)

    def sort_key(name: str) -> tuple[int, int]:
        green = last_green.get(name, -1)
        checked = last_checked.get(name, -1)
        if green < edited_in.get(name, -1):
            return (0, 0)
        if checked < 0:
            return (1, 0)
        if green < 0 or checked > green:
            return (0, 0)
        return (2, green)

    # sorted() is stable, so equal keys keep registry order
    return sorted(names, key=sort_key)


def _read_ledgers() -> dict[int, dict[str, dict]]:
    ledgers = {}
    for path in _REPO_ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            ledgers[int(m.group(1))] = json.loads(path.read_text())
    return ledgers


def _ordered_names() -> list[str]:
    return _window_order(list(QUERIES), _read_ledgers(), _EDITED_IN)


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].fn for name in _ordered_names()}


def get_oracle_sql() -> dict[str, str]:
    return {
        name: QUERIES[name].sql
        for name in _ordered_names()
        if QUERIES[name].sql is not None
    }

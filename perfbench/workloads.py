"""The benchmark's workloads: what one pass does and how it is checked.

Every workload is a closed loop with one client: the next query or
micro-batch is issued only when the previous one has committed, as in
the reference's one-task scheduler model.

- batch workloads run a fixed list of registry queries, each built
  with ``spec.fn(spark, dir)`` inside ``caching.tracking_scope()`` and
  executed with a noop write. A pass is one run over the list.
- ``sync_drain`` drains a block-ordered transfers table to its head
  with ``IncrementalSyncRunner.run_to_head``: each micro-batch is
  transformed (log_index plus the enrichment join), appended to
  parquet through ``sources.io`` and committed from the destination
  into a ``SyncStateStore``. A pass is one drain into an empty
  destination.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from gen import Sizes

# Three curation queries whose DuckDB oracles are cheap enough to
# check in every run: MinHash LSH pairs (driver-side band build, the
# session pair memo), a driver-gated top-quartile selection over
# tracked persists, and the Python-bound image near-dup lane.
CURATION_OPS = (
    "minhash_lsh",
    "dsir_resample",
    "image_neardup",
)

# sync_drain: transfers per block, blocks per micro-batch. 3000 blocks
# drain in 10 batches, so a pass has 10 latency samples and the
# destination and state log grow over 10 appends and commits.
BLOCK_TRANSFERS = 4
SYNC_BATCH_BLOCKS = 300
TOKENS = 23  # transfers_from_events keys tokens as tk0..tk22


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" or "sync"
    sizes: Sizes
    ops: tuple[str, ...] = ()
    # batch workloads: the corpus table every op reads (rows_per_s)
    input_table: str = ""


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "curation_sf001",
            "batch",
            # two key-shifted, letter-rotated copies of 250 documents
            Sizes(customer=75, supplier=5, part=100, orders=750,
                  lineitem=3000, events=500, documents=250, embeddings=250,
                  copies=2),
            CURATION_OPS,
            "documents",
        ),
        Workload(
            "sync_drain",
            "sync",
            Sizes(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=12000, documents=50, embeddings=50),
        ),
    )
}


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------


def duck_views(corpus: str):
    import duckdb

    from gen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')"
        )
    return con


def verify_batch(spark, corpus: str, ops, failures: list) -> None:
    """The untimed verification pass: every op against its DuckDB
    oracle on the same inputs."""
    from dataengineering_spark import caching
    from dataengineering_spark.plans.queries import QUERIES
    from tests.conftest import assert_frames_match

    con = duck_views(corpus)
    try:
        for name in ops:
            spec = QUERIES[name]
            try:
                with caching.tracking_scope():
                    assert_frames_match(spec.fn(spark, corpus), con.sql(spec.sql))
            except Exception as e:  # an op failure is a result, not a crash
                failures.append({"op": name, "error": repr(e)[:500]})
    finally:
        con.close()


def batch_pass(spark, corpus: str, ops, tracer, failures: list) -> list[tuple[str, float]]:
    """One timed pass; returns (op, latency in seconds) per op."""
    from dataengineering_spark import caching
    from dataengineering_spark.plans.queries import QUERIES

    jsc = spark.sparkContext._jsc
    lat = []
    for name in ops:
        spec = QUERIES[name]
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=name) as op:
                with caching.tracking_scope():
                    with tracer.span("build", job_group=True):
                        df = spec.fn(spark, corpus)
                    if tracer.enabled:
                        with tracer.span("plan", job_group=True):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("execute", job_group=True):
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            failures.append({"op": name, "error": repr(e)[:500]})
            continue
        lat.append((name, time.perf_counter() - t0))
        if op is not None:
            op.attrs["persisted_after"] = jsc.getPersistentRDDs().size()
            op.attrs["tracked_live"] = caching.tracked_count()
    return lat


def reset_caches(spark) -> None:
    """Pass hygiene: every pass starts with no cached frames and no
    memoized LSH pairs, so each pass does the same work."""
    from dataengineering_spark.plans import queries_llm

    spark.catalog.clearCache()
    queries_llm.evict_pair_cache(spark)


# ---------------------------------------------------------------------------
# sync_drain
# ---------------------------------------------------------------------------

# DuckDB twin of sync_transform over the whole source table
SYNC_ORACLE_SQL = f"""
WITH meta AS (
  SELECT token_address, decimals, length(symbol) * 2.0 AS coin_price_usd
  FROM (
    SELECT 'tk' || CAST(i AS VARCHAR) AS token_address,
           'SYM' || CAST(i AS VARCHAR) AS symbol,
           CAST(length('tk' || CAST(i AS VARCHAR)) % 3 AS INT) AS decimals
    FROM range({TOKENS}) t(i)
  )
),
indexed AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY transaction_id
      ORDER BY block_date_time, transfer_id) AS INT) AS log_index
  FROM source
),
joined AS (
  SELECT t.*, CASE WHEN type IN (0, 1) THEN 0 ELSE m.decimals END AS d,
         m.coin_price_usd
  FROM indexed t JOIN meta m USING (token_address)
)
SELECT block, transfer_id, transaction_id, log_index, token_address, type,
  coin_value / power(10.0, d) AS coin_value,
  (coin_value / power(10.0, d)) * coin_price_usd AS coin_value_usd,
  CASE WHEN log_index > 1 THEN 0.0 ELSE fee END AS fee,
  (CASE WHEN log_index > 1 THEN 0.0 ELSE fee END) * coin_price_usd AS fee_usd,
  block_date_time
FROM joined
"""


def write_sync_source(spark, corpus: str, path: str) -> None:
    """The drained table: transfers_from_events over the corpus events,
    ``BLOCK_TRANSFERS`` transfers per block and up to three
    transactions per block, stored in block order like a chain table.
    A transaction never spans blocks, so the per-batch transform equals
    the transform over the whole table."""
    from pyspark.sql import functions as F

    from dataengineering_spark.catalog import read_table
    from dataengineering_spark.plans.queries import transfers_from_events

    tr = transfers_from_events(read_table(spark, "events", corpus))
    block = F.floor(F.col("block") / BLOCK_TRANSFERS).cast("long")
    tx = F.concat(
        F.lit("tx"),
        block.cast("string"),
        F.lit("."),
        (F.col("transfer_id").cast("long") % 3).cast("string"),
    )
    (
        tr.withColumns({"transaction_id": tx, "block": block})
        .orderBy("block", "transfer_id")
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", str(256 * 1024))
        .parquet(path)
    )


def token_metadata(spark):
    from pyspark.sql import functions as F

    from dataengineering_spark.operators.joins import enrich_with_prices

    meta = spark.range(TOKENS).select(
        F.concat(F.lit("tk"), F.col("id").cast("string")).alias("token_address"),
        F.concat(F.lit("SYM"), F.col("id").cast("string")).alias("symbol"),
    ).withColumn("decimals", (F.length("token_address") % 3).cast("int"))
    prices = meta.select("symbol", (F.length("symbol") * F.lit(2.0)).alias("coin_price_usd"))
    return enrich_with_prices(meta, prices, on="symbol")


def sync_transform(meta):
    from pyspark.sql import functions as F

    from dataengineering_spark.functions.scalars import (
        conditional_reset,
        scale_by_decimals,
    )
    from dataengineering_spark.operators.joins import enrich_transfers
    from dataengineering_spark.operators.windows import log_index

    def transform(batch):
        tr = log_index(batch, "transaction_id", ["block_date_time", "transfer_id"])
        joined = enrich_transfers(tr, meta, on="token_address")
        decimals = conditional_reset("decimals", F.col("type").isin(0, 1), 0)
        scaled = scale_by_decimals("coin_value", decimals)
        fee0 = conditional_reset("fee", F.col("log_index") > 1, 0.0)
        return joined.select(
            "block",
            "transfer_id",
            "transaction_id",
            "log_index",
            "token_address",
            "type",
            scaled.alias("coin_value"),
            (scaled * F.col("coin_price_usd")).alias("coin_value_usd"),
            fee0.alias("fee"),
            (fee0 * F.col("coin_price_usd")).alias("fee_usd"),
            "block_date_time",
        )

    return transform


class SyncDrain:
    """One drain = ``run_to_head`` from the initial state into an empty
    destination. Per-batch latency comes from the commit times the
    store records; in a traced run the runner's, store's and sink's
    public calls are additionally wrapped in spans."""

    def __init__(self, spark, work: str, source_path: str, tracer):
        from dataengineering_spark.sources.io import read_any

        self.spark = spark
        self.work = work
        self.source_path = source_path
        self.tracer = tracer
        self.source = read_any(spark, source_path)
        self.meta = token_metadata(spark)
        self.n = 0

    def drain(self) -> dict:
        from pyspark.sql import functions as F

        from dataengineering_spark.sources.io import read_any, write_any
        from dataengineering_spark.streaming.runner import (
            IncrementalSyncRunner,
            SyncConfig,
        )
        from dataengineering_spark.streaming.state import SyncStateStore

        tracer = self.tracer
        self.n += 1
        dest = os.path.join(self.work, f"dest-{self.n}")
        state_root = os.path.join(self.work, f"state-{self.n}")
        marks: list[float] = []

        class Store(SyncStateStore):
            def commit(self, stream, state):
                with tracer.span("state.commit"):
                    v = super().commit(stream, state)
                marks.append(time.perf_counter())
                return v

        store = Store(state_root)
        runner = IncrementalSyncRunner(
            self.spark, store, SyncConfig(stream="transfers", batch_size=SYNC_BATCH_BLOCKS)
        )
        if tracer.enabled:
            _trace_runner(runner, tracer)

        def sink(df):
            with tracer.span("io.write", job_group=True):
                write_any(df, dest, mode="append")

        def dest_max():
            if not os.path.isdir(dest):
                return None
            with tracer.span("io.dest_max", job_group=True):
                return read_any(self.spark, dest).agg(F.max("block").alias("m")).collect()[0].m

        t0 = time.perf_counter()
        ranges = runner.run_to_head(self.source, sync_transform(self.meta), sink, dest_max)
        wall = time.perf_counter() - t0
        bounds = [t0] + marks
        return {
            "wall": wall,
            "batches": [(f"batch{i}", b - a) for i, (a, b) in enumerate(zip(bounds, bounds[1:]))],
            "ranges": [(r.last_synced, r.latest) for r in ranges],
            "dest": dest,
            "history": [s.last_synced_block for s in store.history("transfers")],
        }

    def check(self, d: dict, con) -> list[str]:
        """Destination equals the transform over the whole source (as
        multisets), final watermark equals the source head, and the
        state history is strictly increasing."""
        problems = []
        head = con.sql("SELECT MAX(block) FROM source").fetchone()[0]
        if not d["history"] or d["history"][-1] != head:
            problems.append(f"final watermark {d['history'][-1:]} != head {head}")
        if any(b <= a for a, b in zip(d["history"], d["history"][1:])):
            problems.append(f"state history not monotone: {d['history']}")
        got = f"read_parquet('{d['dest']}/*.parquet')"
        for a, b in ((got, "oracle"), ("oracle", got)):
            n = con.sql(f"SELECT COUNT(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
            if n:
                problems.append(f"{n} rows in {a[:20]} missing from {b[:20]}")
        return problems

    def oracle(self):
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW source AS SELECT * FROM read_parquet('{self.source_path}/*.parquet')"
        )
        con.execute(f"CREATE TABLE oracle AS {SYNC_ORACLE_SQL}")
        return con

    def dest_shape(self, d: dict) -> tuple[int, int]:
        files = [f for f in os.listdir(d["dest"]) if f.endswith(".parquet")]
        return len(files), sum(os.path.getsize(os.path.join(d["dest"], f)) for f in files)

    def source_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.source_path, f))
            for f in os.listdir(self.source_path)
            if f.endswith(".parquet")
        )

    def discard(self, d: dict) -> None:
        shutil.rmtree(d["dest"], ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, f"state-{self.n}"), ignore_errors=True)


def _trace_runner(runner, tracer) -> None:
    """Wrap the runner's public steps on this instance so run_to_head's
    own loop reports batch → negotiate / transform+sink / commit."""
    from dataengineering_spark.caching import tracked_count

    check = runner.check_sync_status
    commit = runner.commit_from_destination
    open_spans: list = []

    def traced_check(source):
        batch = tracer.open("batch")
        with tracer.span("runner.negotiate", job_group=True):
            rng = check(source)
        if rng.should_run:
            open_spans[:] = [batch, tracer.open("runner.transform_sink")]
        else:
            batch.name = "final_probe"
            tracer.close(batch)
        return rng

    def traced_commit(destination_max):
        batch, ts = open_spans
        tracer.close(ts)
        with tracer.span("runner.commit"):
            state = commit(destination_max)
        tracer.close(batch)
        batch.attrs["persisted_after"] = runner.spark.sparkContext._jsc.getPersistentRDDs().size()
        batch.attrs["tracked_live"] = tracked_count()
        return state

    runner.check_sync_status = traced_check
    runner.commit_from_destination = traced_commit

"""Streaming ANN serve — the train-once / serve-many contract of the
IVF-PQ tier (``operators/similarity.py``) extended to a query STREAM.

Shape: the expensive artifacts are built exactly once, offline —

1. the quantizers (coarse centroids + PQ codebooks), trained by
   ``train_ivfpq`` and persisted by ``save_ivfpq_index``;
2. the ENCODED CORPUS — (vec_id, codes, cid) from
   ``operators.similarity.encode_corpus`` — written cid-PARTITIONED by
   :func:`save_encoded_corpus` as epoch -1 of an epoch store
   (``epoch_id=E/cid=C``, streaming/store.py), the layout the ingest
   stream adds its epochs to.

Each micro-batch of query vectors then costs only:

- a shuffle-free ``ivf_assign`` of the batch to its nprobe cells and
  an in-plan LUT build (both |batch|-sized, broadcastable);
- a PARTITION-PRUNED scan of the code table: the batch's distinct
  probed cids (bounded by |batch| x nprobe — a driver collect of ints,
  never vectors) become a ``cid IN (...)`` filter that prunes at the
  directory level, so a 100 TB corpus serves a batch by reading only
  the probed cells' 4-byte-code files;
- the shared ADC scoring join (``adc_score_candidates`` — the SAME
  expression the batch path compiles, so stream and batch score
  bit-identically) and a per-query top-k.

What this deliberately does NOT do: re-encode the corpus per batch
(``ivfpq_topk`` called naively in foreachBatch would — the reason
``encode_corpus`` exists), or hold any executor state-store state
(the index is a parquet table and the stream is stateless).

Reference scope note: the reference has no vector machinery; this is
part of the LLM-pipeline extension tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.operators.similarity import (
    adc_score_candidates,
    ivf_assign,
    pq_query_luts,
    topk_per_query,
)
from dataengineering_spark.streaming.store import (
    EPOCH_COL,
    read_store,
    write_epoch,
)


def save_encoded_corpus(enc: DataFrame, path: str) -> None:
    """Materialize an ``encode_corpus`` frame cid-partitioned — the
    layout under which a probe of n cells is a partition-pruned scan
    (``PartitionFilters: cid IN ...`` in the serve plan, asserted in
    ``tests/test_streaming_ann.py``).  The offline build is epoch -1,
    below every epoch an ingest stream adds."""
    enc.withColumn(EPOCH_COL, F.lit(-1)).write.mode("overwrite").partitionBy(
        EPOCH_COL, "cid"
    ).parquet(path)


def probe_luts_for(
    batch: DataFrame,
    index: "tuple[list, dict]",
    nprobe: int,
    m_sub: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, cid, lut) for one query batch: nprobe cell
    assignments joined with the ADC lookup tables. |batch| x nprobe
    rows — rides the broadcast into the scoring join."""
    q = batch.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cent_rows, by_m = index
    probes = ivf_assign(q, cent_rows, n=nprobe).select(
        F.col("vec_id").alias("query_id"), "cid"
    )
    luts = pq_query_luts(
        q.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")),
        by_m,
        m_sub,
        dim // m_sub,
    )
    return probes.join(F.broadcast(luts), on="query_id").select(
        "query_id", "cid", "lut"
    )


def ann_serve_batch(
    batch: DataFrame,
    enc_path: str,
    index: "tuple[list, dict]",
    k: int = 5,
    nprobe: int = 2,
    m_sub: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Answer one query batch from the persisted encoded corpus.
    Returns (query_id, neighbor_id, rank, adc_d2) — the
    ``ivfpq_topk`` output contract."""
    from dataengineering_spark.caching import persist_tracked

    spark = batch.sparkSession
    # Tracked, NOT unpersisted here: the returned top-k frame is lazy
    # and still references pl — an eager unpersist would recompute the
    # probe/LUT frame during the caller's consuming action, so the
    # epoch persist would only ever serve the cid collect. Callers
    # release after the write/collect (tracking_scope in the
    # foreachBatch hook; release_tracked in batch pipelines).
    pl = persist_tracked(
        probe_luts_for(
            batch, index, nprobe, m_sub, dim, id_col=id_col, vec_col=vec_col
        )
    )
    # Bounded driver collect: |batch| x nprobe ints, pruning only.
    cids = sorted({r.cid for r in pl.select("cid").distinct().collect()})
    enc = spark.read.parquet(enc_path).filter(F.col("cid").isin(cids))
    scored = adc_score_candidates(enc, pl, m_sub)
    return topk_per_query(scored, k, score_col="adc_d2", descending=False)


def ann_serve_batch_fn(
    enc_path: str,
    index: "tuple[list, dict]",
    out_path: str,
    k: int = 5,
    nprobe: int = 2,
    m_sub: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch hook: serve the epoch's queries and write the
    results as the epoch's partition of ``out_path``."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        from dataengineering_spark.caching import tracking_scope

        with tracking_scope():  # releases the epoch's probe/LUT persist
            out = ann_serve_batch(
                batch,
                enc_path,
                index,
                k=k,
                nprobe=nprobe,
                m_sub=m_sub,
                dim=dim,
                id_col=id_col,
                vec_col=vec_col,
            )
            write_epoch(out, out_path, epoch_id)

    return batch_fn


def ann_ingest_batch_fn(
    enc_path: str,
    index: "tuple[list, dict]",
    m_sub: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats_path: str | None = None,
):
    """foreachBatch hook for the CORPUS side of the stream: encode the
    epoch's vectors under the FROZEN quantizers (one narrow map — the
    same ``encode_corpus`` pass the offline build uses) and write them
    as the epoch's cid-partitioned slice of the corpus, so the next
    serve call's partition pruning sees them with no index rebuild.

    Freezing the quantizers is the deliberate trade: assignments stay
    comparable forever (a vector's codes never change), at the price
    of index staleness as the distribution drifts.  ``stats_path``
    makes that drift measurable instead of silent: per epoch,
    (epoch_id, cid, n_vectors) is written — an O(#cells) frame whose
    growing skew (new mass crowding few cells) is the retrain
    signal."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        from dataengineering_spark.operators.similarity import encode_corpus

        enc = encode_corpus(
            batch, index, m_sub=m_sub, dim=dim,
            id_col=id_col, vec_col=vec_col,
        ).persist()
        try:
            write_epoch(enc, enc_path, epoch_id, partition_by=["cid"])
            if stats_path is not None:
                stats = enc.groupBy("cid").agg(F.count("*").alias("n_vectors"))
                write_epoch(stats, stats_path, epoch_id)
        finally:
            enc.unpersist()

    return batch_fn


def ingest_cell_stats(spark: SparkSession, stats_path: str) -> DataFrame:
    """Per-cell ingest accounting accumulated by
    :func:`ann_ingest_batch_fn`: (epoch_id, cid, n_vectors)."""
    return spark.read.parquet(stats_path).select(
        "epoch_id", "cid", "n_vectors"
    )


def accumulated_results(spark: SparkSession, out_path: str) -> DataFrame:
    """Accumulated (query_id, neighbor_id, rank, adc_d2) from a drained
    stream's sink."""
    return read_store(spark, out_path).select(
        "query_id", "neighbor_id", "rank", "adc_d2"
    )

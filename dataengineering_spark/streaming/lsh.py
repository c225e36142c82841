"""Streaming MinHash-LSH near-duplicate detection — the streaming face
of the batch near-dup tier (``operators/dedup.minhash_lsh_pairs``),
completing the streaming story the exact/content tier started in
``streaming/dedup.py``.

Shape: a persisted BAND INDEX (parquet table of (doc_id, band_id,
band_sig) rows, exactly ``operators/dedup.lsh_bands`` output) bound to
:class:`~dataengineering_spark.streaming.store.IndexLane`: intra-epoch
pairs come from the banded self-join (the ``minhash_lsh_pairs``
equi-join shape, never all-pairs), cross-epoch pairs from the index
joined against the BROADCAST batch bands (the
``incremental_lsh_matches`` scale shape: the 100 TB index is filtered
map-side and never shuffles).

Accumulated pairs over a drained stream equal batch
``minhash_lsh_pairs`` on the whole corpus — proven stream==batch in
``tests/test_streaming_lsh.py``.

State posture at scale: the band index grows with the corpus (that is
inherent — near-dup screening must remember everything it may match
against), but it lives in a PARQUET TABLE, not in executor state-store
memory: per-epoch cost is one broadcast of the (small) batch bands and
one map-side filtered scan of the index.  The state-store path
(``dropDuplicatesWithinWatermark``) is deliberately NOT used here —
its eviction contract is wrong for an index that must never forget.

Reference scope note: the reference has no near-dup machinery at all
(its dedup is ClickHouse ``OPTIMIZE ... DEDUPLICATE``,
``clickhouse/v1/utils.py:173-193``); this module is part of the
LLM-pipeline extension tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    DEFAULT_SHINGLE,
    lsh_bands,
    minhash_signatures,
)
from dataengineering_spark.streaming.store import IndexLane, read_store

INDEX_SCHEMA = "doc_id long, band_id int, band_sig string"


def _band_frame(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    return lsh_bands(
        minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n),
        id_col=id_col,
        bands=bands,
        num_hashes=num_hashes,
    )


def _intra_pairs(bands_df: DataFrame, id_col: str) -> DataFrame:
    """Banded self-join within one epoch — identical join shape to
    ``minhash_lsh_pairs`` (equi-join on (band_id, band_sig), id-ordered
    to emit each unordered pair once)."""
    a, b = bands_df.alias("a"), bands_df.alias("b")
    return a.join(
        b,
        on=[
            F.col("a.band_id") == F.col("b.band_id"),
            F.col("a.band_sig") == F.col("b.band_sig"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        ],
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
    )


def _cross_pairs(
    index_bands: DataFrame, batch_bands: DataFrame, id_col: str
) -> DataFrame:
    """Index vs broadcast batch bands; pair ordered (min, max) so the
    accumulated stream output matches batch ``minhash_lsh_pairs``
    regardless of which side arrived first."""
    i, n = index_bands.alias("i"), F.broadcast(batch_bands).alias("n")
    matched = i.join(
        n,
        on=[
            F.col("i.band_id") == F.col("n.band_id"),
            F.col("i.band_sig") == F.col("n.band_sig"),
            F.col(f"i.{id_col}") != F.col(f"n.{id_col}"),
        ],
    )
    lo = F.least(F.col(f"i.{id_col}"), F.col(f"n.{id_col}"))
    hi = F.greatest(F.col(f"i.{id_col}"), F.col(f"n.{id_col}"))
    return matched.select(lo.alias("doc_a"), hi.alias("doc_b"))


def lsh_neardup_batch_fn(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE,
):
    """Build the foreachBatch function: per epoch, emit new candidate
    pairs to ``pairs_dir`` and add the epoch's bands to the
    ``index_dir`` band table."""
    return IndexLane(
        keys_fn=lambda batch: _band_frame(
            batch, id_col, text_col, num_hashes, bands, shingle_n
        ),
        intra_fn=lambda keys: _intra_pairs(keys, id_col),
        cross_fn=lambda index, keys: _cross_pairs(index, keys, id_col),
        index_schema=INDEX_SCHEMA,
    ).batch_fn(index_dir, pairs_dir)


def accumulated_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """Accumulated (doc_a, doc_b) candidates from a drained (or live)
    stream's pair sink — the frame to compare against batch
    ``minhash_lsh_pairs`` or to feed ``jaccard_pairs``."""
    return read_store(spark, pairs_dir, "doc_a long, doc_b long")

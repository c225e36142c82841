"""Streaming SemDeDup — the streaming face of the batch embedding
dedup (``operators/dedup.semantic_dedup_members``), completing the
near-dup streaming ladder: exact/content (streaming/dedup.py) →
MinHash-LSH (streaming/lsh.py) → embedding-space (this module).

Shape mirrors streaming/lsh.py (both bind
:class:`~dataengineering_spark.streaming.store.IndexLane`), with
k-means cells playing the band role: a FROZEN coarse quantizer
(centroids trained once — the train-once/serve-many contract of
streaming/ann.py) plus a persisted CELL INDEX of (vec_id, cid, v, dd)
rows.  Cell assignment is a narrow map against the frozen centroid
literals (no Exchange); pairs come from the batch tier's own
``operators/dedup.semantic_candidate_pairs`` (ONE dot fold per
candidate, never all-pairs), within the epoch's cells and against the
index with the batch cells BROADCAST on cid.

Accumulated pairs over a drained stream equal the batch pair set
under the SAME frozen centroids — proven stream==batch in
``tests/test_streaming_semdedup.py``.

Freezing the quantizer is a real serving decision, not a shortcut:
re-training per epoch would re-partition the space and silently
invalidate every cell in the index (the same reason streaming/ann.py
freezes its IVF index and tracks staleness instead). Re-train offline
when drift accounting says so, then rebuild the index in one batch
pass.

State posture at scale: the cell index grows with the corpus (near-dup
screening must remember everything it may match against) but lives in
a parquet table, not executor state-store memory; per-epoch cost is
one broadcast of the small batch cells and one map-side filtered scan
of the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.operators.dedup import semantic_candidate_pairs
from dataengineering_spark.streaming.store import IndexLane, read_store

CELL_INDEX_SCHEMA = "vec_id long, cid int, v array<double>, dd double"


def _batch_cells(
    batch: DataFrame, cent_rows, id_col: str, vec_col: str
) -> DataFrame:
    """Assign the epoch's vectors under the frozen quantizer.
    ``cent_rows`` is either the flat ``ivf_train_rows`` list or the
    two-level ``(super_rows, sub_by_super, c2)`` triple — the scale
    shape for C in the thousands, where flat literal assignment is
    architecturally dead (see operators/similarity.two_level_assign);
    the composite cid plays the cell role identically downstream."""
    from dataengineering_spark.operators.similarity import (
        dot,
        ivf_assign,
        two_level_assign,
    )

    e = batch.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if isinstance(cent_rows, tuple) and len(cent_rows) == 3:
        super_rows, sub_by_super, c2 = cent_rows
        cells = two_level_assign(e, super_rows, sub_by_super, c2)
    else:
        cells = ivf_assign(e, cent_rows)
    return cells.withColumn("dd", dot(F.col("v"), F.col("v")))


def semantic_lane(
    cent_rows: list,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IndexLane:
    """The cell index as an :class:`IndexLane` under the frozen
    quantizer ``cent_rows``."""
    return IndexLane(
        keys_fn=lambda batch: _batch_cells(
            batch, cent_rows, id_col, vec_col
        ).select("vec_id", "cid", "v", "dd"),
        intra_fn=lambda cells: semantic_candidate_pairs(
            cells, threshold=threshold
        ),
        cross_fn=lambda index, cells: semantic_candidate_pairs(
            cells, index_cells=index, threshold=threshold
        ),
        index_schema=CELL_INDEX_SCHEMA,
    )


def semantic_neardup_batch_fn(
    cent_rows: list,
    index_dir: str,
    pairs_dir: str,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build the foreachBatch function: per epoch, emit new candidate
    pairs to ``pairs_dir`` and add the epoch's cells to the
    ``index_dir`` cell table."""
    return semantic_lane(cent_rows, threshold, id_col, vec_col).batch_fn(
        index_dir, pairs_dir
    )


def accumulated_semantic_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """Accumulated (vec_a, vec_b) candidates from a drained (or live)
    stream's pair sink — the frame to compare against the batch pair
    set or to feed ``connected_components``.  A crash during a
    maintenance rewrite can never surface here as a partial edge set
    (ADVICE r12): the read runs the torn-store recovery first."""
    return read_store(spark, pairs_dir, "vec_a long, vec_b long")

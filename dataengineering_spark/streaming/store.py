"""Crash-safe rewrite protocol for the streaming tier's parquet state
stores (pair stores, fingerprint/cell indexes, reps indexes), and the
one epoch store of the mergeable-partials lanes (:class:`PartialsLane`).

The accumulated stores are APPEND-only during ingest, but the
maintenance operations — pair-store compaction
(``curation.compact_pairs_to_forest``), the capped re-pair passes
(``media_dedup.repair_accumulated_pairs``), and the reps-index refresh
— REWRITE a store wholesale.  A bare ``mode("overwrite")`` on the live
directory deletes before it writes, so a crash mid-rewrite leaves a
truncated or empty store and a later drain would silently compute
connected components over a partial edge set (ADVICE r12 low #2).

Protocol (classic tmp-dir + rename, atomic on any filesystem whose
rename is — local FS, HDFS; object stores degrade to copy-rename but
the completion marker below still closes the torn-read window):

1. write the new content to ``<path>._rewrite_tmp`` (Spark drops a
   ``_SUCCESS`` marker on commit — that IS the completion marker);
2. rename the live store aside to ``<path>._rewrite_old``;
3. rename the tmp dir into place;
4. delete the old dir.

Every window has a mechanical recovery, run by :func:`recover_store`
(callers invoke it before reading or rewriting a maintained store):

- crash during 1: live store intact; stale tmp (no ``_SUCCESS`` or
  simply superseded) is deleted on the next pass.
- crash between 2 and 3: live path missing, COMPLETE tmp present
  (``_SUCCESS`` written) -> roll forward: rename tmp into place.
  Incomplete tmp + old present -> roll back: rename old into place.
- crash between 3 and 4: live path present, old dir remains -> delete
  the old dir.

The stores remain DERIVED state (recomputable from the fingerprint /
cell indexes via the repair passes), so recovery here is an
availability fix, not the last line of defense — but it turns "a
crash needs a manual re-pair" into "a crash needs nothing".
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.sources.io import flush_partitions

TMP_SUFFIX = "._rewrite_tmp"
OLD_SUFFIX = "._rewrite_old"
_SUCCESS = "_SUCCESS"


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs


def _p(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FS API so it works on any
    filesystem the session can read (local, HDFS, object stores) —
    reading a nonexistent parquet path fails lazily at action time,
    too late to branch on."""
    jvm, fs = _fs(spark, path)
    return fs.exists(_p(jvm, path))


def store_exists(spark: SparkSession, path: str) -> bool:
    """:func:`path_exists` for maintained stores: runs crash recovery
    first, so a store torn by a mid-rewrite crash reads as its
    recovered self, never as absent/partial."""
    recover_store(spark, path)
    return path_exists(spark, path)


def recover_store(spark: SparkSession, path: str) -> str:
    """Repair any torn state the rewrite protocol can leave behind.
    Returns the action taken: 'clean' | 'rolled_forward' | 'rolled_back'
    | 'reaped_tmp' | 'reaped_old'."""
    jvm, fs = _fs(spark, path)
    live, tmp, old = (_p(jvm, p) for p in (path, path + TMP_SUFFIX,
                                           path + OLD_SUFFIX))
    if fs.exists(live):
        # live store present: any tmp/old is leftover from a crash
        # after commit (or during tmp write) — reap it.
        action = "clean"
        if fs.exists(tmp):
            fs.delete(tmp, True)
            action = "reaped_tmp"
        if fs.exists(old):
            fs.delete(old, True)
            action = "reaped_old"
        return action
    if fs.exists(tmp) and fs.exists(_p(jvm, path + TMP_SUFFIX + "/" + _SUCCESS)):
        # crash between rename-aside and rename-into-place, with a
        # COMPLETE new store ready: roll forward.
        if not fs.rename(tmp, live):
            raise IOError(f"recover_store: rename {tmp} -> {live} failed")
        if fs.exists(old):
            fs.delete(old, True)
        return "rolled_forward"
    if fs.exists(old):
        # incomplete tmp (or none): the rewrite never committed — roll
        # back to the pre-rewrite store.
        if fs.exists(tmp):
            fs.delete(tmp, True)
        if not fs.rename(old, live):
            raise IOError(f"recover_store: rename {old} -> {live} failed")
        return "rolled_back"
    if fs.exists(tmp):  # incomplete tmp, no live, no old: a first-ever
        fs.delete(tmp, True)  # rewrite that never finished its write
        return "reaped_tmp"
    return "clean"


def atomic_rewrite(
    spark: SparkSession,
    frame: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
) -> None:
    """Replace the parquet store at ``path`` with ``frame`` using the
    tmp-dir + rename protocol above, laid out by ``partition_by``.
    ``frame`` must NOT read from ``path`` lazily (callers materialize
    via localCheckpoint/persist first — the live store moves aside
    mid-call)."""
    recover_store(spark, path)
    jvm, fs = _fs(spark, path)
    live, tmp, old = (_p(jvm, p) for p in (path, path + TMP_SUFFIX,
                                           path + OLD_SUFFIX))
    frame.write.mode("overwrite").partitionBy(*partition_by).parquet(
        path + TMP_SUFFIX
    )
    if fs.exists(live):
        if not fs.rename(live, old):
            raise IOError(f"atomic_rewrite: rename {live} -> {old} failed")
    if not fs.rename(tmp, live):
        # roll back so the store is never left absent
        fs.rename(old, live)
        raise IOError(f"atomic_rewrite: rename {tmp} -> {live} failed")
    if fs.exists(old):
        fs.delete(old, True)


EPOCH_COL = "epoch_id"


def _epochs(spark: SparkSession, path: str) -> list[int]:
    """Epoch ids held by a partials store, read from its
    ``epoch_id=N`` directory names — a Hadoop FS listing, not a Spark
    job.  A dynamic partition overwrite renames the partition into
    place at job commit, so a listed epoch is a complete one."""
    jvm, fs = _fs(spark, path)
    found = fs.globStatus(_p(jvm, f"{path}/{EPOCH_COL}=*")) or []
    return [int(st.getPath().getName().split("=", 1)[1]) for st in found]


@dataclass(frozen=True)
class PartialsLane:
    """The epoch store every mergeable-summary lane shares (abtest,
    corpus, distinct, dsir — mergeable summaries, PODS 2021).

    ``partial_fn(batch)`` reduces one micro-batch to a small partial
    frame; ``fold_fn(partials)`` merges any set of partials into one
    frame of the SAME shape (sums of counts, unions of sketches), so
    a fold of folds equals the fold of the originals.

    Replay contract, stated once for all four lanes:

    - one epoch per partition: epoch N lands in ``epoch_id=N`` through
      :func:`~dataengineering_spark.sources.io.flush_partitions`;
    - a replay writes nothing: when the store already holds an epoch
      >= N (N itself, or a compaction past it), the epoch is already
      counted, so the snapshot needs no replay ``distinct()``;
    - a store belongs to one checkpoint: epoch ids restart at 0 on a
      fresh checkpoint, and its epochs would read as replays.
    """

    partial_fn: Callable[[DataFrame], DataFrame]
    fold_fn: Callable[[DataFrame], DataFrame]

    def epoch_partial(self, batch: DataFrame, epoch_id: int) -> DataFrame:
        return self.partial_fn(batch).withColumn(EPOCH_COL, F.lit(int(epoch_id)))

    def batch_fn(self, path: str):
        """foreachBatch hook: write the epoch's partial as its own
        partition, unless the store already holds it."""

        def batch_fn(batch: DataFrame, epoch_id: int) -> None:
            if not batch.take(1):
                return
            spark = batch.sparkSession
            recover_store(spark, path)
            if max(_epochs(spark, path), default=-1) >= epoch_id:
                return
            flush_partitions(self.epoch_partial(batch, epoch_id), path,
                             [EPOCH_COL])

        return batch_fn

    def snapshot(self, spark: SparkSession, path: str) -> DataFrame:
        """The fold of every epoch in the store."""
        recover_store(spark, path)
        return self.fold_fn(spark.read.parquet(path))

    def compact(self, spark: SparkSession, path: str) -> None:
        """Fold every epoch into the partition of the highest one, so
        the store shrinks to one partial and still rejects replays of
        every epoch it absorbed.  Crash-safe through
        :func:`atomic_rewrite`; like every store rewrite, it runs while
        no query is writing the store."""
        folded = self.snapshot(spark, path).localCheckpoint(eager=True)
        last = max(_epochs(spark, path))
        atomic_rewrite(
            spark,
            folded.withColumn(EPOCH_COL, F.lit(last)),
            path,
            partition_by=[EPOCH_COL],
        )
        folded.unpersist()

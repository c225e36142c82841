"""Streaming corpus statistics — the streaming face of the batch
dataset-card report (``plans/queries_llm.q_corpus_report``).

A live ingest wants "what does the corpus look like NOW" without
re-scanning everything ever ingested.  The report's measures (doc
counts, char totals, word totals per source/lang) are all MERGEABLE,
so the stream stores one tiny PARTIAL frame per micro-batch —
(source, lang, n_docs, total_chars, total_words), an
O(|source x lang|) hash aggregate of just that epoch — and the
snapshot reader folds partials into the same GROUPING SETS rollup the
batch query produces.  Nothing about the corpus itself is retained:
state is O(epochs x groups), not O(docs), and ``compact_partials``
keeps even that flat.  The epoch store and its replay contract are the
shared :class:`~dataengineering_spark.streaming.store.PartialsLane`.

Word counts use the batch report's exact expression
(``size(split(text, ' '))``) so stream == batch is provable
row-for-row, not just approximately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineering_spark.streaming.store import PartialsLane


def _partial(batch: DataFrame) -> DataFrame:
    return (
        batch.select(
            "source",
            "lang",
            "n_chars",
            F.size(F.split("text", " ")).cast("long").alias("_n_words"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("_n_words").alias("total_words"),
        )
    )


def _fold(partials: DataFrame) -> DataFrame:
    return partials.groupBy("source", "lang").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
        F.sum("total_words").alias("total_words"),
    )


_LANE = PartialsLane(_partial, _fold)
corpus_stats_batch_fn = _LANE.batch_fn
compact_partials = _LANE.compact


def corpus_stats_snapshot(
    spark: SparkSession, partials_path: str
) -> DataFrame:
    """Fold accumulated partials into the batch report's exact shape:
    (source, lang, n_docs, total_chars, total_words, gid) over
    GROUPING SETS ((source), (lang), ()) — byte-compatible with
    ``q_corpus_report`` output on the same drained corpus."""
    _LANE.snapshot(spark, partials_path).createOrReplaceTempView(
        "_corpus_partials"
    )
    return spark.sql(
        """
        SELECT source, lang, SUM(n_docs) AS n_docs,
          SUM(total_chars) AS total_chars,
          SUM(total_words) AS total_words,
          CAST(GROUPING_ID(source, lang) AS BIGINT) AS gid
        FROM _corpus_partials
        GROUP BY GROUPING SETS ((source), (lang), ())
        """
    )

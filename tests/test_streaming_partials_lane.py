"""Fault injection for the mergeable-partials lanes (abtest, corpus,
distinct, dsir): an epoch that dies after its partial is written but
before the checkpoint commits it is replayed on restart, and the
replay must not count the epoch twice — the drained snapshot equals
the lane's batch twin exactly."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.operators.sketches import (
    hll_estimate_from_sketch,
    hll_merge_sketches,
)
from dataengineering_spark.plans.queries_curation import (
    dsir_bucket_counts,
    dsir_bucket_frame,
)
from dataengineering_spark.plans.queries_eval import q_abtest_ztest
from dataengineering_spark.plans.queries_llm import q_corpus_report
from dataengineering_spark.streaming import abtest, corpus, distinct, dsir
from dataengineering_spark.streaming.structured import run_foreach_batch
from tests.conftest import SF_SMOKE as SF

EPOCH_MOD = 3
FAIL_EPOCH = 1

_EVENTS = (
    "events",
    "event_id",
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string",
)
_DOCS = (
    "documents",
    "doc_id",
    "doc_id long, text string, lang string, source string, n_chars long",
)


def _distinct_twin(spark, rows):
    parts = [
        distinct._epoch_partial(rows.filter(F.col("event_id") % EPOCH_MOD == ep), ep)
        for ep in range(EPOCH_MOD)
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionAll(p)
    return hll_estimate_from_sketch(
        hll_merge_sketches(union, ["event_type"])
    ).select("event_type", "distinct_est")


# lane -> (source, batch fn factory, snapshot, batch twin)
LANES = {
    "abtest": (
        _EVENTS,
        abtest.abtest_batch_fn,
        abtest.abtest_snapshot,
        lambda spark, rows: q_abtest_ztest(spark, SF),
    ),
    "corpus": (
        _DOCS,
        corpus.corpus_stats_batch_fn,
        corpus.corpus_stats_snapshot,
        lambda spark, rows: q_corpus_report(spark, SF),
    ),
    "distinct": (
        _EVENTS,
        distinct.distinct_batch_fn,
        distinct.distinct_snapshot,
        _distinct_twin,
    ),
    "dsir": (
        _DOCS,
        dsir.dsir_partials_batch_fn,
        dsir.dsir_counts_snapshot,
        lambda spark, rows: dsir_bucket_counts(dsir_bucket_frame(rows)),
    ),
}


def _fail_once_after_write(batch_fn):
    raised = []

    def fn(batch, epoch_id):
        batch_fn(batch, epoch_id)
        if epoch_id == FAIL_EPOCH and not raised:
            raised.append(epoch_id)
            raise RuntimeError("injected fault after the partial write")

    return fn


@pytest.mark.parametrize("lane", sorted(LANES))
def test_epoch_killed_after_write_is_replayed_once(spark, tmp_path, lane):
    (table, key, schema), batch_fn, snapshot, twin = LANES[lane]
    rows = read_table(spark, table, SF)
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            rows.filter(F.col(key) % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    partials = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")

    q = run_foreach_batch(
        stream, _fail_once_after_write(batch_fn(partials)), ckpt
    )
    with pytest.raises(Exception, match="injected fault"):
        q.awaitTermination(120)
    # the fault hit after the epoch's partial landed, before its commit
    assert f"epoch_id={FAIL_EPOCH}" in os.listdir(partials)

    run_foreach_batch(stream, batch_fn(partials), ckpt).awaitTermination(120)
    got = {tuple(r) for r in snapshot(spark, partials).collect()}
    want = {tuple(r) for r in twin(spark, rows).collect()}
    assert got == want

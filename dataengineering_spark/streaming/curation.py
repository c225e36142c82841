"""Composed streaming curation pipeline — the four individually-proven
streaming faces run TOGETHER, the way a training-data ingest actually
deploys them:

    raw epochs
      → decontamination gate        (streaming/contamination shape)
      → streaming SemDeDup          (streaming/semdedup shape, over the
                                     CLEAN slice only)
      → DSIR count partials         (streaming/dsir hook, clean slice)
    ... drain ...
      → survivors from accumulated pairs (SemDeDup keep-rule)
      → DSIR top-quantile selection over survivors
      → token-budget shards of the selection

Per-epoch work is one foreachBatch hook that chains the stages on the
SAME micro-batch frame: the gate splits the epoch, and only the clean
slice feeds the dedup index, the pair sink, and the DSIR partials —
quarantined documents never contaminate the corpus model or the
dedup index, which is the point of running the gate FIRST (a nightly
batch sweep would have already let them into both).

The drain-time finishers are shared batch code (connected components +
keep-rule, ``dsir_scores`` against the folded snapshot, the global
discrete-percentile cut, ``token_budget_shards``), so the composed
stream is provably equal to the composed BATCH plan over the same raw
corpus — asserted end-to-end in
``tests/test_streaming_curation_pipeline.py``, stream==batch on the
final shard assignment rows, not just per-stage.

Scale posture: unchanged from the faces — the gate broadcasts the
static benchmark n-grams, the cell index lives in parquet (never
executor state), per-epoch DSIR state is O(B) rows, and the finishers
are the batch operators with their documented 100 TB shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineering_spark.operators.contamination import benchmark_overlap
from dataengineering_spark.operators.dedup import connected_components
from dataengineering_spark.streaming.dsir import (
    dsir_partials_batch_fn,
    dsir_score_against_snapshot,
)
from dataengineering_spark.streaming.media_dedup import media_lane
from dataengineering_spark.streaming.semdedup import (
    CELL_INDEX_SCHEMA,
    accumulated_semantic_pairs,
    semantic_lane,
)
from dataengineering_spark.streaming.store import (
    read_store,
    rewrite_epochs,
    store_exists,
    write_epoch,
)


def curation_pipeline_batch_fn(
    benchmark: DataFrame,
    cent_rows: list,
    quarantine_dir: str,
    clean_dir: str,
    pairs_dir: str,
    index_dir: str,
    dsir_partials_dir: str,
    n: int = 8,
    threshold: float = 0.35,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    quality_rejects_dir: str | None = None,
    media_payload_col: str | None = None,
    media_index_dir: str | None = None,
    media_pairs_dir: str | None = None,
    compact_every: int | None = None,
    reps_index_dir: str | None = None,
    media_reps_index_dir: str | None = None,
):
    """Build the composed foreachBatch hook. ``batch`` rows must carry
    the document columns (``id_col``, ``text_col``, ``lang``) AND the
    document's embedding in ``vec_col`` — the pre-joined ingest shape a
    multimodal pipeline lands.

    ``quality_rejects_dir`` enables the Gopher-rule quality gate
    between decontamination and dedup (the MassiveText stage order):
    per-epoch rule evaluation is a stateless classify-and-route — each
    document's verdict depends only on its own text, never on epoch
    boundaries — with rejects routed to the audit sink and only
    keepers feeding the dedup index and the DSIR corpus model.

    ``media_payload_col`` (+ ``media_index_dir``/``media_pairs_dir``)
    enables the perceptual MEDIA dedup leg: the clean slice's image
    payloads run the dHash index lane of ``streaming/media_dedup``.
    Accumulated media pairs feed ``curation_finish``'s media
    keep-rule at drain time, so a document can be dropped for LOOKING
    like an earlier one even when its text and embedding survive.

    ``compact_every=k`` runs :func:`compact_pairs_to_forest` on the
    pair store(s) after every k-th epoch — the bounded-state
    maintenance window as part of the loop itself (the r12 sf10 probe
    measured 180×/97× store contraction with identical drain output).
    Replay-safe: the compacted forest keeps the epoch's mark, so a
    replayed epoch writes no pairs and leaves the maintenance to the
    next window — asserted stream==batch end-to-end, replay included,
    in tests/test_streaming_curation_pipeline.py.

    ``reps_index_dir`` / ``media_reps_index_dir`` (r13, requires
    ``compact_every``) switch the cross-epoch candidate join to a
    REPRESENTATIVES index: incoming rows join one row per known
    duplicate component (plus everything not yet compacted) instead of
    every accumulated member, making per-epoch pair volume
    O(#components), flat across epochs on replica corpora — see
    :func:`refresh_reps_index` for the exactness/conservativeness
    contract.  The full index keeps growing epoch by epoch (the drain
    still reads it); only the JOIN input is repped.

    Concurrency: foreachBatch serializes epochs per stream, and the
    maintenance window (compaction + reps refresh) runs at the END of
    the epoch hook, after the epoch's own writes — store rewrites
    never race a writer in this design; external writers must fence
    themselves (see compact_pairs_to_forest)."""
    dsir_fn = dsir_partials_batch_fn(dsir_partials_dir)
    if media_payload_col is not None and not (
        media_index_dir and media_pairs_dir
    ):
        raise ValueError(
            "media_payload_col requires media_index_dir and media_pairs_dir"
        )
    if (reps_index_dir or media_reps_index_dir) and not compact_every:
        raise ValueError(
            "reps_index_dir/media_reps_index_dir require compact_every: the "
            "reps index is refreshed from the compacted pair store"
        )
    if media_reps_index_dir is not None and media_payload_col is None:
        raise ValueError("media_reps_index_dir requires media_payload_col")
    sem = semantic_lane(cent_rows, threshold, id_col=id_col, vec_col=vec_col)
    if media_payload_col is not None:
        from dataengineering_spark.functions.multimodal import dhash_images

        media = media_lane(lambda clean: dhash_images(clean.select(
            F.col(id_col).alias("doc_id"),
            F.col(media_payload_col).alias("payload"),
        )), "dhash", 64)

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        hits = benchmark_overlap(
            batch, benchmark, n=n, id_col=id_col, text_col=text_col
        ).persist()
        clean = batch.join(hits.select(id_col), id_col, "left_anti")
        if quality_rejects_dir is not None:
            from dataengineering_spark.plans.queries_curation import (
                gopher_rules_frame,
            )

            rules = gopher_rules_frame(
                clean.select(F.col(id_col).alias("doc_id"),
                             F.col(text_col).alias("text"))
            )
            keepers = rules.filter(F.col("keep")).select(
                F.col("doc_id").alias(id_col)
            )
            write_epoch(rules.filter(~F.col("keep")), quality_rejects_dir,
                        epoch_id)
            clean = clean.join(keepers, id_col)
        clean = clean.persist()
        try:
            write_epoch(hits, quarantine_dir, epoch_id)
            # payloads stay OUT of the clean store: the media leg keeps
            # its own 16 B/object fingerprint index
            kept = clean.drop(vec_col, *filter(None, [media_payload_col]))
            write_epoch(kept, clean_dir, epoch_id)
            # SemDeDup leg — clean slice only; in reps mode the epoch
            # joins the representatives index (one row per known
            # component + everything since the last compaction), and
            # its new rows stay individually matchable there until the
            # next refresh folds them into components
            fresh = sem.ingest(clean, epoch_id, index_dir, pairs_dir,
                               reps_index_dir)
            # media dedup leg — clean slice's payloads through the
            # incremental fingerprint index (streaming/media_dedup)
            media_fresh = media_payload_col is not None and media.ingest(
                clean, epoch_id, media_index_dir, media_pairs_dir,
                media_reps_index_dir,
            )
            # DSIR leg — model the clean corpus only
            dsir_fn(clean, epoch_id)
            # pair-store maintenance window (r12): contract the
            # accumulated stores to their spanning forest — O(|V|)
            # rows, CC-equivalent, so drain results are unchanged.  A
            # leg whose pairs were already written (a replay) leaves
            # its store to the next window.
            if compact_every and (int(epoch_id) + 1) % compact_every == 0:
                if fresh:
                    compact_pairs_to_forest(spark, pairs_dir)
                    if reps_index_dir is not None:
                        refresh_reps_index(
                            spark, pairs_dir, index_dir, reps_index_dir
                        )
                if media_fresh:
                    compact_pairs_to_forest(
                        spark, media_pairs_dir, a_col="doc_a", b_col="doc_b"
                    )
                    if media_reps_index_dir is not None:
                        refresh_reps_index(
                            spark, media_pairs_dir, media_index_dir,
                            media_reps_index_dir,
                            index_schema=media.index_schema,
                            index_id_col="doc_id",
                            a_col="doc_a", b_col="doc_b",
                        )
        finally:
            clean.unpersist()
            hits.unpersist()

    return batch_fn


def pairs_to_forest_frame(
    edges: DataFrame, n_edges: int | None = None, max_passes: int = 3
) -> "tuple[DataFrame, int]":
    """Contract a (src, dst) edge frame to a spanning forest of its
    graph — the frame-level core of :func:`compact_pairs_to_forest`,
    shared with the reps-index refresh and the ``semantic_reps_incremental``
    registry query so the driver exercises the identical contraction
    lane.  Returns ``(forest, passes)``; the forest is eagerly
    materialized (localCheckpoint) with root self-rows still present —
    callers drop ``src == dst`` when they want pair-store shape.

    Contraction is :func:`~dataengineering_spark.operators.dedup._partition_forest`
    — one mapInPandas scan per pass, no joins.  Small input partitions
    are merged to the re-contraction target first, the pass-1 valve of
    ``connected_components`` (the ~8M-edge per-task memory contract)
    splits oversized ones, and re-contraction runs until the frame
    stops shrinking."""
    from dataengineering_spark.operators.dedup import (
        _FOREST_PASS1_MAX_PER_PART,
        _FOREST_TARGET_EDGES_PER_PART,
        _partition_forest,
    )

    if n_edges is None:
        n_edges = edges.count()
    # a pass contracts only within a partition, so a frame spread over
    # many small partitions (a store read gives one per file) would stay
    # far from a forest: merge them to the re-contraction passes' target
    # size.  coalesce needs no shuffle and no partition probe, and does
    # nothing when the frame already has fewer partitions.
    edges = edges.coalesce(max(1, n_edges // _FOREST_TARGET_EDGES_PER_PART))
    # pass-1 sizing valve (same contract as connected_components):
    # mapInPandas holds a whole partition's edge arrays in task memory.
    # The RDD partition probe costs a full plan analysis + RDD
    # conversion (~0.1-0.3 s driver latency), so only pay it when the
    # valve can possibly fire: n_edges <= MAX implies
    # n_edges/n_parts <= MAX for every n_parts >= 1 (r14).
    if n_edges > _FOREST_PASS1_MAX_PER_PART:
        n_parts = edges.rdd.getNumPartitions()
        if n_parts and n_edges / n_parts > _FOREST_PASS1_MAX_PER_PART:
            edges = edges.repartition(
                max(1, n_edges // _FOREST_TARGET_EDGES_PER_PART)
            )
    cur, n_cur, passes = edges, n_edges, 0
    prev_ckpt = None
    while passes < max_passes:
        # lazy checkpoint + count: the count IS the materializing
        # action, so each pass runs ONE job instead of the former
        # eager-checkpoint-then-count two (r14, VERDICT r13 #8).  The
        # previous pass's blocks are released only AFTER the new pass
        # materialized (a dropped checkpoint has no lineage to rebuild).
        nxt = _partition_forest(cur).localCheckpoint(eager=False)
        n_nxt = nxt.count()
        if prev_ckpt is not None:
            prev_ckpt.unpersist()
        prev_ckpt = nxt
        passes += 1
        shrinking = n_nxt < 0.9 * n_cur
        cur, n_cur = nxt, n_nxt
        if not shrinking:
            break
        if n_cur > _FOREST_TARGET_EDGES_PER_PART:
            cur = cur.repartition(
                max(1, n_cur // _FOREST_TARGET_EDGES_PER_PART)
            )
    return cur, passes


def compact_pairs_to_forest(
    spark: SparkSession,
    pairs_dir: str,
    a_col: str = "vec_a",
    b_col: str = "vec_b",
    max_passes: int = 3,
) -> dict:
    """Contract an accumulated pair store to a SPANNING FOREST of its
    graph and rewrite the store — the bounded-state companion to the
    grow-only pair sinks (SCALE.md r11: on replica-structured
    corpora the accumulated pair stores grow super-linearly, Σ over
    clusters of n_i·(n_i−1)/2, while every drain-time consumer reads
    them ONLY through connected components).  A spanning forest has
    exactly the same connected components by construction and is O(|V|)
    rows, so ``drain(compacted store) == drain(raw store)`` while the
    store stops scaling with pair density.  Run it periodically (every
    k epochs) from the ingest loop's maintenance window; later epochs
    keep adding raw pairs and the next compaction folds them in.

    Concurrency contract: the rewrite assumes NO concurrent writer —
    the ingest loop runs it BETWEEN epochs (foreachBatch hooks are
    serialized per stream by Structured Streaming, and ``compact_every``
    fires at the end of the epoch hook, after the epoch's own write).
    A write racing the rewrite could land rows in the pre-rename dir
    and be lost with it; multi-writer deployments must fence the
    maintenance window externally (pinned by
    ``tests/test_reps_and_store_recovery.py::test_compaction_runs_between_epochs``).

    Root self-rows are dropped at the rewrite: every component in a
    PAIR store has ≥ 2 nodes, so each root still appears as the dst of
    a child edge and no node set is lost.  The rewritten store keeps
    ``(a_col, b_col)`` only; extra columns (the media lane's
    ``hamming``) read back as NULL under the explicit-schema readers,
    which only ever select the id pair.

    The rewrite is :func:`~dataengineering_spark.streaming.store.rewrite_epochs`
    — crash-safe, and it keeps the store's highest epoch, so a replay
    of any folded epoch still writes nothing.  Returns
    ``{"rows_before", "rows_after", "passes"}``."""
    if not store_exists(spark, pairs_dir):
        return {"rows_before": 0, "rows_after": 0, "passes": 0}
    edges = read_store(
        spark, pairs_dir, f"`{a_col}` long, `{b_col}` long"
    ).select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    n_before = edges.count()
    if n_before == 0:
        return {"rows_before": 0, "rows_after": 0, "passes": 0}
    cur, passes = pairs_to_forest_frame(edges, n_edges=n_before)
    out = (
        cur.filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias(a_col), F.col("dst").alias(b_col))
        .localCheckpoint(eager=True)  # sever lineage before the rewrite
    )
    cur.unpersist()
    n_after = out.count()
    rewrite_epochs(spark, out, pairs_dir)
    out.unpersist()
    return {"rows_before": n_before, "rows_after": n_after, "passes": passes}


def repair_accumulated_semantic_pairs(
    spark: SparkSession,
    index_dir: str,
    pairs_dir: str,
    threshold: float = 0.35,
) -> int:
    """Semantic-lane :func:`~dataengineering_spark.streaming.media_dedup.repair_accumulated_pairs`
    (r13 — the media lane had this as one call since r10; the semantic
    re-pair was prose, VERDICT r12 #4): recompute the candidate pair
    set from the accumulated CELL INDEX — the within-cell threshold
    self-join over every indexed vector, exactly the batch pair builder
    — and atomically rewrite the pairs store to it.  Because the
    stream's accumulated pairs provably equal the batch self-join under
    the same frozen quantizer (tests/test_streaming_semdedup.py), the
    rewritten store equals the accumulated store: a lost or torn pairs
    store is one call away from whole again, no payload or embedding
    re-read (the index already carries the vectors).  The rewrite
    takes the index's highest epoch as its mark.  Returns the
    rewritten pair count."""
    return semantic_lane(None, threshold).repair(spark, index_dir, pairs_dir)


def refresh_reps_index(
    spark: SparkSession,
    pairs_dir: str,
    index_dir: str,
    reps_index_dir: str,
    index_schema: str = CELL_INDEX_SCHEMA,
    index_id_col: str = "vec_id",
    a_col: str = "vec_a",
    b_col: str = "vec_b",
) -> dict:
    """Rebuild the REPRESENTATIVES index — the full fingerprint/cell
    index minus every non-root member of an already-known duplicate
    component (r13, VERDICT r12 #2: compaction bounded the pair STORE,
    but each epoch's incoming rows still joined the full, linearly
    growing index, so per-epoch pair volume grew O(e) per replica
    cluster).  With the ingest loop joining new rows against this
    index instead, a replica cluster contributes ONE indexed row (its
    min-id root) to the cross-epoch join regardless of how many
    members have accumulated: per-epoch join volume is O(#components +
    #rows-since-last-compaction), flat across epochs on
    replica-structured corpora.

    Correctness contract: a new document that matches the
    representative gains a (new, root) pair — connected to the FULL
    component through the compacted forest, so drain-time connected
    components reconstruct exactly the clusters the full-index join
    builds whenever duplicates match their component's root (exact
    replicas trivially do: identical vectors/fingerprints).  In the
    general near-dup case the reps join is CONSERVATIVE — it can only
    UNDER-merge (its pair set is a subset of the full join's), never
    invent a spurious merge; corpora where near-dups routinely miss
    their root's threshold ball should stay on the full-index join.
    Equivalence on the replica regime is asserted in
    tests/test_streaming_curation_pipeline.py.

    Run AFTER :func:`compact_pairs_to_forest` in the maintenance
    window: component membership is computed over the (now
    forest-sized) pair store — star rounds over O(|V|) edges — and the
    reps index is rewritten atomically (tmp + rename), marked with the
    full index's highest epoch.  Between refreshes, the ingest loop
    writes each epoch's new rows to BOTH indexes, so not-yet-compacted
    documents stay individually matchable.  Returns ``{"index_rows",
    "reps_rows"}``."""
    full = read_store(spark, index_dir, index_schema)
    if store_exists(spark, pairs_dir):
        comp = connected_components(
            read_store(spark, pairs_dir, f"`{a_col}` long, `{b_col}` long"),
            id_a=a_col,
            id_b=b_col,
            distinct_edges=False,
        )
        nonroots = comp.filter(
            F.col("doc_id") != F.col("component")
        ).select(F.col("doc_id").alias(index_id_col))
        reps = full.join(nonroots, index_id_col, "left_anti")
    else:
        reps = full
    reps = reps.persist()
    try:
        n_reps = reps.count()  # materialize before the rewrite
        rewrite_epochs(spark, reps, reps_index_dir, mark_of=index_dir)
    finally:
        reps.unpersist()
    return {"index_rows": full.count(), "reps_rows": n_reps}


def semantic_survivor_ids(
    cells: DataFrame, pairs: DataFrame
) -> DataFrame:
    """(vec_id) surviving SemDeDup given assigned ``cells`` (vec_id,
    v, dd, cid, cv — cv the frozen centroid vector joined per cell)
    and the candidate ``pairs`` frame: connect pairs into
    components, keep the member with the LOWEST cosine to its cell
    centroid per component (the arXiv:2303.09540 keep-rule exactly as
    ``semantic_dedup_members`` applies it), plus every never-clustered
    vector. Shared by the drained-stream finisher and any batch caller
    that already has pairs in hand."""
    from dataengineering_spark.operators.similarity import dot

    comp = connected_components(
        pairs, id_a="vec_a", id_b="vec_b", distinct_edges=False
    ).select(
        F.col("doc_id").alias("vec_id"), "component"
    )
    # cos-to-centroid for clustered members only (centroid = the cell
    # mean is not needed — cells already carry cid; recompute cosine
    # against the frozen centroid the caller used for assignment)
    w = Window.partitionBy("component").orderBy(
        F.col("cos_centroid").asc(), F.col("vec_id").asc()
    )
    dropped = (
        comp.join(cells, "vec_id")
        .withColumn(
            "cos_centroid",
            dot(F.col("v"), F.col("cv"))
            / (F.sqrt(F.col("dd")) * F.sqrt(dot(F.col("cv"), F.col("cv")))),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("vec_id")
    )
    return cells.select("vec_id").join(dropped, "vec_id", "left_anti")


def authorized_media_repair(
    spark: SparkSession,
    media_index_dir: str,
    media_pairs_dir: str,
    caps: "tuple[int, ...] | list[int]",
    pair_budget: int,
    bits: int = 64,
    max_distance: int = 3,
    sim_col: str = "dhash",
    id_col: str = "doc_id",
    compute_cap: int | None = None,
) -> dict:
    """Price → authorize → re-pair as ONE library call (r12 — the sf100
    probes composed this by hand, VERDICT r11 #5): run
    ``authorize_pigeonhole_cap`` over the drained stream's ACCUMULATED
    fingerprint index (16 B/object — no payload re-decode), then
    ``repair_accumulated_pairs`` at the authorized hot-bucket cap, so
    the pairs store entering the drain's connected components is
    exactly the capped-batch pair set whose post-verify survivor
    volume was priced within ``pair_budget`` (Wilson-bounded rate).
    Raises the priced refusal when no cap in ``caps`` fits — before
    any pair materializes.  Returns the authorization decision record
    plus ``pairs_after_repair``."""
    from dataengineering_spark.operators.dedup import (
        authorize_pigeonhole_cap,
    )
    from dataengineering_spark.streaming.media_dedup import (
        repair_accumulated_pairs,
    )

    index = read_store(
        spark, media_index_dir, f"`{id_col}` long, `{sim_col}` long"
    )
    decision = authorize_pigeonhole_cap(
        index, caps, pair_budget, max_distance=max_distance,
        id_col=id_col, sim_col=sim_col, bits=bits, compute_cap=compute_cap,
    )
    n = repair_accumulated_pairs(
        spark, media_index_dir, media_pairs_dir,
        max_bucket_size=decision["cap"], sim_col=sim_col, bits=bits,
        max_distance=max_distance, id_col=id_col,
    )
    return {**decision, "pairs_after_repair": n}


def curation_finish(
    spark: SparkSession,
    cent_rows: list,
    clean_dir: str,
    pairs_dir: str,
    index_dir: str,
    dsir_partials_dir: str,
    select_pct: float,
    budget: int,
    id_col: str = "doc_id",
    ordered: bool = False,
    media_pairs_dir: str | None = None,
    media_index_dir: str | None = None,
    media_cap_policy: "tuple | None" = None,
    media_policy_out: dict | None = None,
) -> DataFrame:
    """Drain-time finisher: survivors → DSIR selection → token shards.
    Returns the final shard assignment (doc_id, n_chars, cum_before,
    seq_id, offset_in_seq) of the selected corpus — what the tokenizer
    consumes. All steps are the batch tier's own operators, so this
    frame equals the composed batch plan over the same raw corpus.
    The clean corpus's cell assignments come from the persisted cell
    INDEX (the streaming system's own record — exactly the clean
    vectors, assigned under the frozen quantizer).

    ``ordered=True`` adds the curriculum interleave as the final
    finisher stage: positions come from the shared
    ``curriculum_positions`` builder (round-robin by source,
    longest-first within source — the curriculum_order registry
    query) computed over the SELECTED corpus, and the shards are
    packed in position order, so the emitted shard stream IS the
    training order. Output rows gain a ``position`` column.

    ``media_cap_policy=(caps, pair_budget)`` (requires
    ``media_index_dir`` and ``media_pairs_dir``) runs
    :func:`authorized_media_repair` FIRST — the ingest loop's epoch
    hook deliberately never applies the hot-bucket cap (it is a
    whole-corpus function), so the drain is where the accumulated
    index gets priced, the largest budget-fitting cap authorized, and
    the pairs store rewritten to the capped-batch set before the
    media connected components run.  This makes the 100 TB posture a
    library call instead of a probe-script composition (VERDICT r11
    #5); the priced refusal propagates when no cap fits."""
    if media_cap_policy is not None:
        if not (media_index_dir and media_pairs_dir):
            raise ValueError(
                "media_cap_policy requires media_index_dir and "
                "media_pairs_dir"
            )
        caps, pair_budget = media_cap_policy
        decision = authorized_media_repair(
            spark, media_index_dir, media_pairs_dir, caps, pair_budget
        )
        if media_policy_out is not None:  # probes record the decision
            media_policy_out.update(decision)
    from dataengineering_spark.caching import persist_tracked
    from dataengineering_spark.operators.chunking import token_budget_shards
    from dataengineering_spark.operators.robust import global_discrete_pcts

    clean = read_store(spark, clean_dir)
    cents = spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in cent_rows],
        "cid INT, cv ARRAY<DOUBLE>",
    )
    cells = persist_tracked(
        read_store(spark, index_dir, CELL_INDEX_SCHEMA).join(
            F.broadcast(cents), "cid"
        )
    )
    pairs = accumulated_semantic_pairs(spark, pairs_dir)
    surv_ids = semantic_survivor_ids(cells, pairs)
    survivors = persist_tracked(
        clean.join(
            surv_ids.select(F.col("vec_id").alias(id_col)), id_col
        )
    )
    if media_pairs_dir is not None and store_exists(spark, media_pairs_dir):
        # media keep-rule: min doc id per perceptual-dup cluster keeps,
        # chosen AMONG DOCS STILL PRESENT IN SURVIVORS (ADVICE r9): the
        # cluster's global min may already have been dropped by the
        # LSH/semantic legs, and dropping relative to an absent
        # canonical could eliminate every member of a cluster. A doc
        # dropped here can still have surviving text/embedding — the
        # point of running the media leg at all.
        mpairs = read_store(spark, media_pairs_dir, "doc_a long, doc_b long")
        mcomp = connected_components(mpairs, distinct_edges=False)
        present = mcomp.join(
            survivors.select(F.col(id_col).alias("doc_id")), "doc_id"
        )
        mdropped = (
            present.withColumn(
                "_keep_id",
                F.min("doc_id").over(Window.partitionBy("component")),
            )
            .filter(F.col("doc_id") != F.col("_keep_id"))
            .select(F.col("doc_id").alias(id_col))
        )
        survivors = persist_tracked(
            survivors.join(mdropped, id_col, "left_anti")
        )
    weights = persist_tracked(
        dsir_score_against_snapshot(spark, survivors, dsir_partials_dir)
    )
    cut = global_discrete_pcts(
        weights, "score_fp", id_col, [select_pct], ["cut"]
    )["cut"]
    if cut is None:
        cut = 0
    if ordered:
        from dataengineering_spark.plans.queries_curation import (
            curriculum_positions,
        )

        selected = weights.filter(F.col("score_fp") >= cut).join(
            survivors.select(id_col, "n_chars", "source"), id_col
        )
        pos = curriculum_positions(selected, id_col=id_col)
        selected = selected.join(pos, id_col)
        return token_budget_shards(
            selected, "n_chars", "position", budget
        ).select(
            id_col, "n_chars", "position", "cum_before", "seq_id",
            "offset_in_seq",
        )
    selected = weights.filter(F.col("score_fp") >= cut).join(
        survivors.select(id_col, "n_chars"), id_col
    )
    return token_budget_shards(selected, "n_chars", id_col, budget).select(
        id_col, "n_chars", "cum_before", "seq_id", "offset_in_seq"
    )

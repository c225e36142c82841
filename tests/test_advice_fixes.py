"""Regression tests for the round-4 ADVICE findings: tracked-cache
release, case-insensitive email redaction, asof reserved-name guard."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def test_token_budget_shards_cache_is_released(spark):
    from dataengineering_spark.caching import release_tracked, tracked_count
    from dataengineering_spark.catalog import read_table
    from dataengineering_spark.operators.chunking import token_budget_shards

    release_tracked()  # start clean regardless of earlier tests
    docs = read_table(spark, "documents", SF_ORACLE)
    before = tracked_count()
    shards = token_budget_shards(docs, "n_chars", "doc_id", budget=50_000)
    assert shards.count() == docs.count()
    assert tracked_count() == before + 1
    assert release_tracked() >= 1
    assert tracked_count() == 0


def test_tracking_scope_releases_only_its_own(spark):
    """Round-8 ADVICE: a foreachBatch hook calling the GLOBAL
    release_tracked() would unpersist other pipelines' correctness
    persists mid-query; tracking_scope must capture only the persists
    issued inside it and leave the global list untouched."""
    from dataengineering_spark.caching import (
        persist_tracked,
        release_tracked,
        tracked_count,
        tracking_scope,
    )

    release_tracked()
    outer = persist_tracked(spark.range(10))
    assert outer.count() == 10
    assert tracked_count() == 1
    with tracking_scope():
        inner = persist_tracked(spark.range(5))
        assert inner.count() == 5
        assert tracked_count() == 1  # inner went to the scope, not global
        assert inner.storageLevel.useMemory
    assert not inner.storageLevel.useMemory  # scope exit released inner
    assert outer.storageLevel.useMemory  # outer survived the scope
    assert tracked_count() == 1
    assert release_tracked() == 1


def test_enrichment_pipeline_persist_is_released_by_scope(spark, tmp_path):
    """enrichment_pipeline persists its token dimension; the persist
    must be tracked so a tracking_scope around build + write releases
    it. A private copy of the input keeps the cached plan unique to
    this test."""
    import shutil

    from dataengineering_spark.caching import tracking_scope
    from dataengineering_spark.plans.queries import q_enrichment_pipeline
    from tests.conftest import SF_SMOKE

    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), tmp_path / "events.parquet")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with tracking_scope():
        df = q_enrichment_pipeline(spark, str(tmp_path))
        df.write.format("noop").mode("overwrite").save()
        assert jsc.getPersistentRDDs().size() > before
    assert jsc.getPersistentRDDs().size() == before


def _assert_persist_released_by_scope(spark, tmp_path, query, tables):
    """``query`` persists a per-key aggregate; a tracking_scope around
    build + write must release it. Private copies of ``tables`` keep
    the cached plan unique to the calling test."""
    import shutil

    from dataengineering_spark.caching import tracking_scope
    from tests.conftest import SF_SMOKE

    for t in tables:
        shutil.copy(os.path.join(SF_SMOKE, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with tracking_scope():
        df = query(spark, str(tmp_path))
        df.write.format("noop").mode("overwrite").save()
        assert jsc.getPersistentRDDs().size() > before
    assert jsc.getPersistentRDDs().size() == before


def test_top_supplier_persist_is_released_by_scope(spark, tmp_path):
    from dataengineering_spark.plans.queries_relational import q_top_supplier

    _assert_persist_released_by_scope(
        spark, tmp_path, q_top_supplier, ("lineitem", "supplier")
    )


def test_important_parts_persist_is_released_by_scope(spark, tmp_path):
    from dataengineering_spark.plans.queries_relational import q_important_parts

    _assert_persist_released_by_scope(
        spark, tmp_path, q_important_parts, ("lineitem",)
    )


def test_trailing_bucket_id_floors_negative_seconds(spark):
    """Round-8 ADVICE: (sec/bucket).cast(long) truncates toward zero —
    rows at negative epochs landed in the wrong bucket. The bucket id
    must be exact floor division."""
    from dataengineering_spark.operators.windows import trailing_range_agg

    rows = [(1, -7201), (2, -3601), (3, -1), (4, 0), (5, 3600)]
    df = spark.createDataFrame(rows, "id INT, sec LONG").withColumn(
        "k", F.lit("a")
    ).withColumn("v", F.lit(1).cast("decimal(18,6)"))
    out = trailing_range_agg(
        df, "k", "sec", "v", ["id"], window_sec=7200, bucket_sec=3600
    )
    got = {r.id: (r.n_trailing, int(r.sum_trailing)) for r in out.collect()}
    # oracle: plain trailing [t-7199, t] count over the 5 rows
    secs = dict(rows)
    want = {
        i: sum(1 for j, s in rows if secs[i] - 7199 <= s <= secs[i])
        for i, _ in rows
    }
    assert {i: g[0] for i, g in got.items()} == want
    assert {i: g[1] for i, g in got.items()} == want


def test_email_redaction_is_case_insensitive(spark, duck):
    from dataengineering_spark.functions.text import (
        EMAIL_PATTERN,
        redact_contacts,
    )

    samples = [
        ("write John.Doe@Gmail.com today",),
        ("UPPER@EXAMPLE.COM and lower@example.com",),
        ("no contact here",),
    ]
    df = spark.createDataFrame(samples, "t STRING").select(
        redact_contacts(F.col("t")).alias("r")
    )
    ours = [r["r"] for r in df.collect()]
    assert ours[0] == "write <EMAIL> today"
    assert ours[1] == "<EMAIL> and <EMAIL>"
    assert ours[2] == "no contact here"

    # DuckDB (RE2) applies the identical pattern identically
    for (t,), expect in zip(samples, ours):
        got = duck.execute(
            "SELECT regexp_replace(?, ?, '<EMAIL>', 'g')", [t, EMAIL_PATTERN]
        ).fetchone()[0]
        assert got == expect


def test_asof_join_rejects_reserved_column_names(spark):
    from dataengineering_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 5)], "k INT, t INT, _mts INT"
    )
    right = spark.createDataFrame(
        [(1, 9, 7)], "k INT, t INT, _mts INT"
    )
    with pytest.raises(ValueError, match="_mts"):
        asof_join(left, right, ["k"], "t", "t", ["_mts"])
    with pytest.raises(ValueError, match="_ts"):
        asof_join(
            left.withColumnRenamed("_mts", "_ts"),
            right.withColumnRenamed("_mts", "v"),
            ["k"],
            "_ts",
            "t",
            ["v"],
        )


def test_discrete_pcts_pins_ranged_layout(spark):
    """discrete_pcts' offsets and ranked branches must read IDENTICAL
    sampled range bounds; the builder persists the ranged layout (same
    hazard class as global_discrete_pcts) instead of relying on
    exchange reuse, which AQE can break (round-5 ADVICE)."""
    from dataengineering_spark.caching import release_tracked, tracked_count
    from dataengineering_spark.operators.robust import discrete_pcts

    release_tracked()
    df = spark.range(1000).selectExpr(
        "id % 3 AS k", "id * 7 % 101 AS v", "id AS tie"
    )
    out = discrete_pcts(df, "k", "v", "tie", (0.5,), ("med",))
    assert tracked_count() >= 1, "ranged layout not persisted"
    rows = {r["k"]: r["med"] for r in out.collect()}
    # oracle: exact percentile_disc per key computed in plain Python
    import collections

    groups = collections.defaultdict(list)
    for i in range(1000):
        groups[i % 3].append((i * 7 % 101, i))
    for k, vals in groups.items():
        vals.sort()
        want = vals[(len(vals) - 1) // 2][0]
        assert rows[k] == want, (k, rows[k], want)
    assert release_tracked() >= 1


# ---------------------------------------------------------------------------
# round-9 ADVICE regressions
# ---------------------------------------------------------------------------


def test_kcore_peel_schema_identical_across_gate_paths(spark):
    """Round-9 ADVICE: for int-typed edge frames the distributed path
    used to leave `node` at the input dtype while the driver-gated path
    emits bigint — the output schema flipped with edge count."""
    from dataengineering_spark.operators.graph_analytics import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a INT, b INT"
    )
    gated = kcore_peel(edges, k=2, n_iters=2, driver_threshold=500_000)
    dist = kcore_peel(edges, k=2, n_iters=2, driver_threshold=0)
    assert [f.dataType.simpleString() for f in gated.schema.fields] == [
        f.dataType.simpleString() for f in dist.schema.fields
    ]
    assert sorted(map(tuple, gated.collect())) == sorted(
        map(tuple, dist.collect())
    )


def test_dup_method_agreement_zero_not_null_on_no_pairs(spark, tmp_path):
    """Round-9 ADVICE: Spark sums over zero rows return NULL while the
    DuckDB oracle's scalar COUNT(*) returns 0 — on a corpus whose LSH
    and SemDeDup candidate-pair sets are both EMPTY the audit row must
    still be (0, 0, 0), not (NULL, NULL, NULL)."""
    import duckdb

    # disjoint-vocab docs -> no shingle overlap -> no LSH band pairs;
    # ALL-ODD doc_ids so _dedup_corpus's perturbed even-id batch is
    # empty (those injected copies are near-dups by construction);
    # one-hot embeddings -> pairwise cosine 0 < SEM_THRESHOLD -> no
    # semantic pairs. Corpus is non-empty so training succeeds.
    docs = [
        (2 * i + 1, " ".join(f"tok{i}x{j}" for j in range(40)), "en", "s", 200)
        for i in range(10)
    ]
    embs = [(i, [1.0 if d == i else 0.0 for d in range(64)], 0)
            for i in range(64)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", docs)
    con.execute(
        "CREATE TABLE e (vec_id BIGINT, embedding FLOAT[], label INTEGER)"
    )
    con.executemany("INSERT INTO e VALUES (?,?,?)", embs)
    con.execute(f"COPY d TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY e TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()
    from dataengineering_spark.caching import release_tracked
    from dataengineering_spark.plans.queries_eval import q_dup_method_agreement

    row = q_dup_method_agreement(spark, str(tmp_path)).collect()[0]
    release_tracked()
    assert (row.n_lsh, row.n_sem, row.n_both) == (0, 0, 0)


def test_trailing_bucket_handles_quoted_column_names(spark):
    """Round-9 ADVICE: the bucket-id expr interpolated the raw column
    name into an F.expr f-string; names needing backtick quoting
    (dots, spaces, hyphens) failed to parse or bound wrongly."""
    from dataengineering_spark.operators.windows import trailing_range_agg

    rows = [(1, 0), (2, 1800), (3, 3600), (4, 7200)]
    df = (
        spark.createDataFrame(rows, ["id", "odd name"])
        .withColumnRenamed("odd name", "ts.sec-col")
        .withColumn("k", F.lit("a"))
        .withColumn("v", F.lit(1).cast("decimal(18,6)"))
    )
    out = trailing_range_agg(
        df, "k", "ts.sec-col", "v", ["id"], window_sec=7200, bucket_sec=3600
    )
    got = {r.id: r.n_trailing for r in out.collect()}
    secs = dict(rows)
    want = {
        i: sum(1 for _, s in rows if secs[i] - 7199 <= s <= secs[i])
        for i, _ in rows
    }
    assert got == want


def test_dhash_sensitivity_and_band_recall(spark):
    """dHash kernel: identical payloads hash identically; a 1px width
    change flips only a few bits; the banded pair join recovers every
    pair the brute-force hamming<=3 filter admits (pigeonhole)."""
    from dataengineering_spark.functions.multimodal import (
        dhash_image,
        dhash_images,
        make_gradient_png,
    )
    from dataengineering_spark.operators.dedup import simhash_neardup_pairs

    a = dhash_image(make_gradient_png(120, 14, 42))
    assert a == dhash_image(make_gradient_png(120, 14, 42))
    b = dhash_image(make_gradient_png(121, 14, 42))
    assert 0 <= a < (1 << 63) and 0 <= b < (1 << 63)
    assert bin(a ^ b).count("1") < 16  # near, not unrelated

    payloads = [
        (i, make_gradient_png(100 + (i // 3) % 7 + (i % 3 == 2), 12, (i // 3) * 5))
        for i in range(30)
    ]
    hashes = [(i, dhash_image(p)) for i, p in payloads]
    want = {
        (x, y)
        for (x, hx) in hashes
        for (y, hy) in hashes
        if x < y and bin(hx ^ hy).count("1") <= 3
    }
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    dh = dhash_images(df)
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(
            dh, max_distance=3, sim_col="dhash", bits=64
        ).collect()
    }
    assert got == want and want  # non-trivial fixture


def test_bpe_incremental_counts_match_naive_replay(spark):
    """The incremental pair-count maintenance in _bpe_merge_chain must
    pick the identical (pair, n) sequence a naive full recount picks —
    replayed in pure Python with the same \\b-anchored leftmost
    non-overlapping replace."""
    import re

    from dataengineering_spark.catalog import read_table
    from dataengineering_spark.caching import release_tracked
    from dataengineering_spark.plans.queries_eval import (
        _bpe_merge_chain,
        _bpe_spaced_words,
    )

    docs = read_table(spark, "documents", SF_ORACLE).limit(120)
    spaced = _bpe_spaced_words(docs)
    corpus = [r["d"] for r in spaced.collect()]
    rows, _final = _bpe_merge_chain(spaced, 6)
    release_tracked()

    cur = list(corpus)
    for it, pair, n in rows:
        counts: dict[str, int] = {}
        for d in cur:
            t = d.split(" ")
            for j in range(len(t) - 1):
                p = t[j] + " " + t[j + 1]
                counts[p] = counts.get(p, 0) + 1
        want_pair, want_n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        assert (pair, n) == (want_pair, want_n), (it, pair, n, want_pair, want_n)
        pat = re.compile(r"\b" + re.escape(pair) + r"\b")
        cur = [pat.sub(pair.replace(" ", ""), d) for d in cur]
    assert len(rows) == 6


def test_audio_fingerprint_gain_invariance_and_band_recall(spark):
    """Energy-delta fingerprint: uniform gain preserves every bit; a
    small DC offset stays nearby; the banded join recovers exactly the
    brute-force hamming<=3 pair set."""
    from dataengineering_spark.functions.multimodal import (
        audio_fingerprint,
        audio_fingerprints,
        make_test_wav,
    )
    from dataengineering_spark.operators.dedup import simhash_neardup_pairs

    base = [((7 * (t + 1) + 13) % 201) - 100 for t in range(300)]
    fp = audio_fingerprint(make_test_wav(base))
    assert fp == audio_fingerprint(make_test_wav([2 * s for s in base]))
    shifted = audio_fingerprint(make_test_wav([s + 3 for s in base]))
    assert 0 <= fp < (1 << 63) and 0 <= shifted < (1 << 63)
    assert bin(fp ^ shifted).count("1") < 16

    payloads = [
        (i, make_test_wav(
            [(((3 + i // 3) * (t + 1) + i % 3) % 201) - 100
             for t in range(280 + i % 5)]
        ))
        for i in range(30)
    ]
    hashes = [(i, audio_fingerprint(p)) for i, p in payloads]
    want = {
        (x, y)
        for (x, hx) in hashes
        for (y, hy) in hashes
        if x < y and bin(hx ^ hy).count("1") <= 3
    }
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(
            audio_fingerprints(df), max_distance=3, sim_col="afp", bits=64
        ).collect()
    }
    assert got == want and want


def test_pigeonhole_joins_accept_quoted_column_names(spark):
    """The chunk-join operators interpolate nothing user-supplied into
    expr strings: dotted/hyphened id and hash column names must work
    (the trailing_range_agg hazard class, swept proactively)."""
    from dataengineering_spark.operators.dedup import (
        simhash_neardup_cross_pairs,
        simhash_neardup_pairs,
    )

    rows = [(i, (i * 2654435761) % (1 << 31)) for i in range(40)]
    rows += [(100 + i, rows[i][1] ^ (1 << (i % 20))) for i in range(10)]
    df = (
        spark.createDataFrame(rows, ["a", "b"])
        .withColumnRenamed("a", "doc.id-x")
        .withColumnRenamed("b", "sim.hash-y")
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(
            df, id_col="doc.id-x", sim_col="sim.hash-y"
        ).collect()
    }
    want = {(i, 100 + i) for i in range(10)}
    assert got == want
    idx, batch = df.filter("`doc.id-x` < 100"), df.filter("`doc.id-x` >= 100")
    got_cross = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_cross_pairs(
            idx, batch, id_col="doc.id-x", sim_col="sim.hash-y"
        ).collect()
    }
    assert got_cross == want


def test_twap_accepts_quoted_ts_name(spark):
    from datetime import datetime

    from dataengineering_spark.operators.robust import step_twap

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), 10.0, 1),
        (1, datetime(2024, 1, 1, 12, 0, 0), 20.0, 2),
    ]
    df = (
        spark.createDataFrame(rows, ["k", "t", "v", "tie"])
        .withColumn("ts.col-q", F.col("t").cast("timestamp_ntz"))
        .drop("t")
    )
    out = step_twap(df, "k", "ts.col-q", "v", "tie").collect()
    assert len(out) == 1 and out[0]["n"] == 2


def test_cc_round_broadcasts_labels_never_shuffles_edges(spark):
    """The sf100 disk-death fix pinned at the plan level: with the
    broadcast gate engaged, a connected-components round must join the
    edge frame via BroadcastHashJoin (labels broadcast) — never a
    SortMergeJoin that shuffles O(|E|) edges."""
    from dataengineering_spark.operators.dedup import _cc_round

    edges = spark.range(5000).selectExpr(
        "id AS src", "(id + 1) % 5000 AS dst"
    )
    labels = spark.range(5000).selectExpr(
        "id AS doc_id", "id AS component"
    )
    plan = (
        _cc_round(edges, labels, bcast=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the EDGE join (edges.dst == labels.doc_id) must be the broadcast
    # one — node-sized frames may still SortMergeJoin each other (the
    # intended O(|V|) shuffle)
    assert "BroadcastHashJoin [dst" in plan, plan[:1500]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:1500]
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "[dst" not in line, line
    # and the rows are right: a cycle converges toward min id
    out = _cc_round(edges, labels, bcast=True)
    assert out.count() == 5000
    assert out.agg({"component": "min"}).collect()[0][0] == 0


def test_media_hashers_honor_custom_id_col(spark, tmp_path):
    """Round-9 ADVICE: dhash_images/audio_fingerprints hardcoded their
    output id column to doc_id, so media_neardup_batch_fn(id_col=...)
    raised in the pair join and mismatched the index read schema. The
    hashers must emit the caller's id column end-to-end."""
    from dataengineering_spark.functions.multimodal import (
        audio_fingerprints,
        dhash_images,
        make_diag_png,
        make_test_wav,
    )
    from dataengineering_spark.streaming.media_dedup import (
        accumulated_media_pairs,
        media_neardup_batch_fn,
    )

    png = make_diag_png(40, 12, 7, 3, 5)

    def img_frame(ids):
        return spark.createDataFrame(
            [(i, png) for i in ids], "img_id long, payload binary"
        )

    dh = dhash_images(img_frame([1, 2, 3]), id_col="img_id")
    assert dh.columns == ["img_id", "dhash"]
    af = audio_fingerprints(
        spark.createDataFrame(
            [(1, make_test_wav(list(range(-50, 50))))],
            "clip_id long, payload binary",
        ),
        id_col="clip_id",
    )
    assert af.columns == ["clip_id", "afp"]

    batch_fn = media_neardup_batch_fn(
        lambda df: dhash_images(df, id_col="img_id"),
        sim_col="dhash",
        bits=64,
        index_dir=str(tmp_path / "idx"),
        pairs_dir=str(tmp_path / "pairs"),
        id_col="img_id",
    )
    batch_fn(img_frame([1, 2, 3]), 0)  # intra-batch pair path
    batch_fn(img_frame([4, 5, 6]), 1)  # cross-batch index-join path
    pairs = accumulated_media_pairs(spark, str(tmp_path / "pairs"))
    # 6 identical images -> all 15 unordered pairs, however they split
    # across the intra/cross paths
    assert pairs.count() == 15


def test_media_keeper_chosen_among_surviving_docs(spark, tmp_path):
    """Round-9 ADVICE: curation_finish's media keep-rule kept the
    min-doc-id per perceptual cluster, but that canonical member may
    already be gone via the LSH/semantic legs — dropping relative to
    an absent keeper could eliminate EVERY member of a cluster. The
    keeper must be the min id among docs still present in survivors."""
    from dataengineering_spark.caching import release_tracked
    from dataengineering_spark.streaming.curation import curation_finish
    from dataengineering_spark.streaming.semdedup import CELL_INDEX_SCHEMA

    release_tracked()
    docs = [
        (1, "alpha beta gamma delta", "en", "web", 20),
        (2, "beta gamma delta epsilon", "en", "web", 22),
        (3, "gamma delta epsilon zeta", "en", "web", 21),
        (4, "delta epsilon zeta eta", "en", "web", 19),
    ]
    clean = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    clean.write.parquet(str(tmp_path / "clean"))
    # frozen 1-cell quantizer; the SemDeDup keep-rule keeps the LOWEST
    # cosine per component, so doc 1 (cos 1) loses to doc 4 (cos 0) —
    # doc 1 is the semantically dropped min of the media cluster below
    cent_rows = [(0, [1.0, 0.0])]
    cells = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0], 1.0),   # cos to centroid = 1  (dropped)
            (4, 0, [0.0, 1.0], 1.0),   # cos to centroid = 0  (kept)
            (2, 0, [0.6, 0.8], 1.0),
            (3, 0, [0.8, 0.6], 1.0),
        ],
        CELL_INDEX_SCHEMA,
    )
    cells.write.parquet(str(tmp_path / "index"))
    spark.createDataFrame(
        [(1, 4)], "vec_a long, vec_b long"
    ).write.parquet(str(tmp_path / "pairs"))
    # media cluster {1, 2, 3}: global min (doc 1) is semantically
    # dropped; survivor-aware keeper must keep doc 2, drop doc 3
    spark.createDataFrame(
        [(1, 2, 0), (2, 3, 0)], "doc_a long, doc_b long, hamming int"
    ).write.parquet(str(tmp_path / "mpairs"))
    from dataengineering_spark.plans.queries_curation import (
        dsir_bucket_counts,
        dsir_bucket_frame,
    )

    dsir_bucket_counts(dsir_bucket_frame(clean)).withColumn(
        "epoch_id", F.lit(0)
    ).write.parquet(str(tmp_path / "dsir"))

    out = curation_finish(
        spark,
        cent_rows,
        clean_dir=str(tmp_path / "clean"),
        pairs_dir=str(tmp_path / "pairs"),
        index_dir=str(tmp_path / "index"),
        dsir_partials_dir=str(tmp_path / "dsir"),
        select_pct=0.0,
        budget=1_000,
        media_pairs_dir=str(tmp_path / "mpairs"),
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    release_tracked()
    # doc 1: semantic drop; doc 3: media dup of surviving keeper 2;
    # doc 2 MUST survive (the old global-min rule dropped it too)
    assert kept == [2, 4]

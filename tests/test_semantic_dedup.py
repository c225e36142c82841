"""semantic_dedup_members (SemDeDup) semantics on synthetic corpora:
the keep-rule, cluster membership, and the C-scaling contract the
registry query can't pin (its oracle fixes C=8)."""

from __future__ import annotations

import pytest

from dataengineering_spark.operators.dedup import semantic_dedup_members


def _emb_frame(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )


DIM = 8


def _basis(i, scale=1.0):
    v = [0.0] * DIM
    v[i % DIM] = scale
    return v


def test_identical_vectors_cluster_and_keep_one(spark):
    # three copies of e0, two copies of e1, one lone e2
    vecs = [_basis(0), _basis(0), _basis(0), _basis(1), _basis(1), _basis(2)]
    out = semantic_dedup_members(
        _emb_frame(spark, vecs), n_centroids=2, n_iters=1, dim=DIM, threshold=0.9
    ).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r.component, []).append(r)
    # the lone vector never appears (unclustered => implicitly kept)
    assert all(r.vec_id != 5 for r in out)
    # identical vectors land in one component with exactly one keeper
    assert sorted(len(v) for v in by_comp.values()) == [2, 3]
    for members in by_comp.values():
        assert sum(r.keep for r in members) == 1
        # component label is the min member id
        assert min(r.vec_id for r in members) == members[0].component


def test_keep_rule_prefers_lowest_centroid_cosine(spark):
    # one tight cluster around e0 plus enough spread mass that the
    # trained centroid sits between them: the member pointing furthest
    # from the centroid must be the keeper
    vecs = [
        [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [1.0, 0.02, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        [1.0, 0.4, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    ]
    out = semantic_dedup_members(
        _emb_frame(spark, vecs), n_centroids=1, n_iters=1, dim=DIM, threshold=0.9
    ).collect()
    assert len(out) == 3
    keeper = [r for r in out if r.keep]
    assert len(keeper) == 1
    # lowest cosine-to-centroid wins
    assert keeper[0].cos_centroid == min(r.cos_centroid for r in out)


def test_larger_c_still_pairs_identical_vectors(spark):
    # the C-scaling contract: identical vectors share a cell at ANY C,
    # so raising C (the knob that bounds within-cell pair work) never
    # loses exact-duplicate clusters
    vecs = [_basis(i % 4, 1.0 + (i // 8) * 0.0) for i in range(16)]
    for c in (2, 4, 8):
        out = semantic_dedup_members(
            _emb_frame(spark, vecs), n_centroids=c, n_iters=1, dim=DIM, threshold=0.999
        ).collect()
        comps = {}
        for r in out:
            comps.setdefault(r.component, set()).add(r.vec_id)
        # all 4 copies of each basis vector stay one cluster
        assert sorted(len(s) for s in comps.values()) == [4, 4, 4, 4], c
        for members in comps.values():
            assert len({i % 4 for i in members}) == 1


def test_empty_corpus_raises_value_error(spark):
    empty = _emb_frame(spark, []).limit(0)
    with pytest.raises(ValueError):
        semantic_dedup_members(empty, n_centroids=2, n_iters=1, dim=DIM).collect()


def test_connected_components_converges_logarithmically(spark, distributed_gates):
    # pointer jumping makes a diameter-D chain converge in O(log D)
    # rounds; plain propagation needs D. A 500-edge chain under
    # max_iterations=12 (log2(500) ~ 9) must reach fixpoint with no
    # over-split warning — the regression guard for the r7 rewrite.
    import warnings

    from dataengineering_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(500)], "doc_a LONG, doc_b LONG"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        # this guard is about the DISTRIBUTED loop's round count, so
        # bypass the small-graph driver path
        with distributed_gates():
            labels = connected_components(chain, max_iterations=12).collect()
    assert len(labels) == 501
    assert {r.component for r in labels} == {0}


def test_hot_cell_cap_drops_cells_with_accounting(spark):
    from dataengineering_spark.operators.dedup import semantic_cell_stats

    # one cell (C=1) holding two orthogonal duplicate groups
    vecs = [_basis(0)] * 12 + [_basis(1)] * 3
    emb = _emb_frame(spark, vecs)
    cap = 5
    stats = semantic_cell_stats(
        emb, n_centroids=1, n_iters=1, dim=DIM, max_cell_size=cap
    ).collect()
    assert len(stats) == 1
    (row,) = stats
    assert row.n_vecs == 15 and row.over_cap
    assert row.cand_pairs == 105 and row.pairs_kept_if_sampled == 10

    # uncapped: both duplicate groups cluster (threshold separates
    # the orthogonal groups), two keepers
    full = semantic_dedup_members(
        emb, n_centroids=1, n_iters=1, dim=DIM, threshold=0.9
    ).collect()
    assert len(full) == 15 and sum(r.keep for r in full) == 2

    # capped: the single hot cell contributes no pairs at all
    capped = semantic_dedup_members(
        emb, n_centroids=1, n_iters=1, dim=DIM, threshold=0.9, max_cell_size=cap
    ).collect()
    assert capped == []


def test_require_pair_budget_refuses_with_priced_message(spark):
    """The pair-volume guard must predict exactly sum n(n-1)/2 over
    (optionally capped) cells and refuse over-budget configurations
    with the prediction in the message (VERDICT r8 #3's priced
    degrade)."""
    import pytest

    from dataengineering_spark.operators.dedup import require_pair_budget

    rows = [(i, [float(i)], 0 if i < 10 else 1) for i in range(14)]
    cells = spark.createDataFrame(rows, "vec_id long, v array<double>, cid int")
    # cells: cid 0 -> 10 vecs (45 pairs), cid 1 -> 4 vecs (6 pairs)
    assert require_pair_budget(cells, max_pairs=51) == 51
    with pytest.raises(ValueError, match="51"):
        require_pair_budget(cells, max_pairs=50)
    # cap drops the hot cell from pairing, like semantic_dedup_members
    assert require_pair_budget(cells, max_pairs=50, max_cell_size=5) == 6
    # empty frame predicts zero, never NULL
    assert require_pair_budget(cells.filter("cid < 0"), max_pairs=0) == 0

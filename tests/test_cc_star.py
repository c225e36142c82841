"""The unbroadcastable connected-components regime (r10): partition
spanning-forest contraction + alternating large-star/small-star
rounds. Above ``broadcast_nodes_max`` the min-label loop's per-round
joins would shuffle the O(|E|) edge frame (the pre-r9 disk-death
shape); the contraction path bounds every shuffle by the forest-sized
frame instead. These tests force the path with broadcast_nodes_max=0
and check it against the union-find fixpoint, its structural bounds,
and the self-loop singleton edge case.
"""

from __future__ import annotations

import random

import pytest

from dataengineering_spark.operators.dedup import (
    _driver_union_find,
    _partition_forest,
    _star_rounds,
    connected_components,
)

# Long-horizon fuzz/soak/equivalence suite: excluded from the default
# (driver-budget) pytest run; gates shipping via `make test-slow`.
pytestmark = pytest.mark.slow


def _star_path(distributed_gates, pairs, **kw):
    # the fixture forces the distributed engine; "star" is the default
    # strategy, so this exercises contraction + star rounds
    with distributed_gates():
        return connected_components(pairs, **kw)


def test_star_path_matches_union_find_on_random_graphs(spark, distributed_gates):
    for seed, n, m in [(3, 200, 300), (5, 500, 120), (9, 30, 900)]:
        random.seed(seed)
        edges = [
            (random.randrange(n), random.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(
            edges, "doc_a long, doc_b long"
        ).repartition(7)
        expect = _driver_union_find(edges)
        tel: dict = {}
        got = {
            r.doc_id: r.component
            for r in _star_path(distributed_gates, pairs, telemetry=tel).collect()
        }
        assert got == expect, (seed, len(got), len(expect))
        if seed == 9:
            # the dense graph's 7-partition forest (~7·30 rows) is over
            # 4·|V|, so the re-contraction loop runs before the rounds
            assert len(tel["forest_edge_trajectory"]) > 1, tel


def test_star_path_long_chain_converges(spark, distributed_gates):
    """A diameter-300 chain: the star rounds must reach the fixpoint
    well inside max_iterations (tree heights shrink geometrically),
    and every node labels to the global min."""
    chain = [(i, i + 1) for i in range(300)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = _star_path(distributed_gates, pairs, max_iterations=15).collect()
    assert len(got) == 301
    assert {r.component for r in got} == {0}


def test_star_path_keeps_self_loop_singletons(spark, distributed_gates):
    """A node whose every edge is a self-loop never reaches the
    contracted forest — it must still come back as its own
    singleton component (parity with the min-label loop)."""
    pairs = spark.createDataFrame(
        [(1, 2), (7, 7), (9, 9)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.component
        for r in _star_path(distributed_gates, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 7: 7, 9: 9}


def test_partition_forest_is_connectivity_preserving_and_bounded(spark):
    """The contraction invariants: per partition the output is a
    spanning forest with roots as explicit (n, n) self-rows — exactly
    one row per local node, so globally <= sum of per-partition node
    counts — and the union of forests has exactly the input graph's
    components. The self-rows mean downstream derives the complete
    node set from the forest and never re-scans the pair frame (r11)."""
    random.seed(21)
    edges = [
        (random.randrange(120), random.randrange(120)) for _ in range(2000)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    forest = _partition_forest(df)
    rows = [(r.src, r.dst) for r in forest.collect()]
    node_set = {x for e in edges for x in e}
    # one row per (partition-local) node: for a dense graph (2000
    # edges, <=120 nodes) the contracted frame must be at most
    # 8 partitions x nodes, and far below the edge count
    assert len(rows) <= 8 * len(node_set)
    assert len(rows) < len(edges)
    assert _driver_union_find(rows) == _driver_union_find(edges)
    # the src column carries the COMPLETE node set
    assert {s for s, _d in rows} == node_set
    # star output shape: every edge points node -> local root (roots
    # self-referencing), and roots are local minima (np.unique index
    # order == id order)
    assert all(s >= d for s, d in rows)
    assert any(s == d for s, d in rows)  # roots present as self-rows


def test_star_rounds_fixpoint_on_star_forest_is_immediate(spark):
    """A frame that is already a star forest centered at component
    minima must be recognized as the fixpoint on the first round —
    the convergence check, not the round cap, ends the loop."""
    stars = [(i, 0) for i in range(1, 6)] + [(j, 10) for j in (11, 12)]
    df = spark.createDataFrame(stars, "src long, dst long")
    labels = _star_rounds(df, max_iterations=1)  # 1 round must suffice
    got = {r.doc_id: r.component for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 10: 10, 11: 10, 12: 10}


def test_star_path_equals_minlabel_path(spark, distributed_gates):
    """Both distributed engines converge to the identical labeling on
    the same graph (broadcast min-label loop vs contraction+star)."""
    random.seed(33)
    edges = [(random.randrange(80), random.randrange(80)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {
        (r.doc_id, r.component)
        for r in _star_path(distributed_gates, pairs).collect()
    }
    minlabel = {
        (r.doc_id, r.component)
        for r in _star_path(distributed_gates, pairs, strategy="minlabel").collect()
    }
    assert star == minlabel


def test_unknown_strategy_is_refused(spark, distributed_gates):
    import pytest

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="star|minlabel"):
        _star_path(distributed_gates, pairs, strategy="bogus")


def test_star_round_plan_never_joins_an_unbounded_edge_frame(spark):
    """Plan-shape pin for the round engine: a star round's joins key
    on the CURRENT (forest-sized) frame only — the plan must not
    contain a BroadcastNestedLoopJoin or cartesian product, and the
    groupBy side is a partial (map-side combined) aggregate, so
    per-round shuffle is bounded by the frame itself. Pins ONE round's
    plan via _star_round — the _star_rounds return value is an eagerly
    materialized LogicalRDD since r11, which would make this vacuous."""
    from dataengineering_spark.operators.dedup import _star_round

    df = spark.range(37, 2000).selectExpr(
        "id AS src", "id % 37 AS dst"
    )
    one_round = _star_round(df)
    plan = one_round._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    labels = _star_rounds(df, max_iterations=10)
    got = {r.doc_id: r.component for r in labels.collect()}
    expect = _driver_union_find(
        [(i, i % 37) for i in range(37, 2000)]
    )
    assert got == expect  # 37 residue-class star components


def test_star_rounds_output_is_materialized_and_released(spark, distributed_gates):
    """ADVICE r10: _star_rounds leaked its final persisted edge frame
    and connected_components unpersisted the node frame before the
    output was consumed (recomputing the full pair scan downstream).
    Both now return an eagerly-materialized LogicalRDD holding no
    lineage back to the inputs — and no persisted frame from the call
    survives it."""
    import random

    before = {
        rid for rid in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    random.seed(11)
    edges = [(random.randrange(60), random.randrange(60)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = _star_path(distributed_gates, pairs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, plan
    # every persist taken during the call is released by return time;
    # only localCheckpoint block sets (storage of the materialized
    # results, reclaimed on GC) may remain
    after = {
        rid for rid in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    jsc = spark.sparkContext._jsc
    leaked = []
    for rid in after - before:
        rdd = jsc.getPersistentRDDs().get(rid)
        if rdd is not None and not rdd.rdd().isLocallyCheckpointed():
            leaked.append(rid)
    assert leaked == [], f"persisted frames leaked by connected_components: {leaked}"
    assert {r.doc_id: r.component for r in out.collect()} == _driver_union_find(edges)
    # the minlabel engine follows the same release discipline (r11)
    out_ml = _star_path(distributed_gates, pairs, strategy="minlabel")
    ml_plan = out_ml._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in ml_plan, ml_plan
    after_ml = {
        rid for rid in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    leaked_ml = []
    for rid in after_ml - after:
        rdd = jsc.getPersistentRDDs().get(rid)
        if rdd is not None and not rdd.rdd().isLocallyCheckpointed():
            leaked_ml.append(rid)
    assert leaked_ml == [], f"minlabel leaked persisted frames: {leaked_ml}"
    assert {
        r.doc_id: r.component for r in out_ml.collect()
    } == _driver_union_find(edges)


def test_cc_star_string_ids_fall_back_to_minlabel(spark, distributed_gates):
    """ADVICE r10: the star engine is int64-only; non-integral ids must
    route to the minlabel engine (any orderable type) instead of
    raising inside a task — on BOTH the distributed and driver-gate
    paths, preserving the caller's id type."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    expect = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    got = {
        r.doc_id: r.component
        for r in _star_path(distributed_gates, pairs).collect()
    }
    assert got == expect
    # driver-gate path: schema was hardcoded "long" before r11
    gated = connected_components(pairs)
    assert gated.schema["doc_id"].dataType.simpleString() == "string"
    assert {r.doc_id: r.component for r in gated.collect()} == expect


def test_cc_star_int32_ids_cast_up_to_long(spark, distributed_gates):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 9)], "doc_a int, doc_b int"
    )
    out = _star_path(distributed_gates, pairs)
    assert out.schema["doc_id"].dataType.simpleString() == "bigint"
    got = {r.doc_id: r.component for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_cc_star_pass1_repartition_branch(spark, monkeypatch, distributed_gates):
    """Force the pass-1 sizing branch (ADVICE r10: a coarsely
    partitioned dense pair frame must be repartitioned before the
    first contraction) by shrinking the thresholds; the labeling must
    be unchanged."""
    import random

    from dataengineering_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "_FOREST_PASS1_MAX_PER_PART", 10)
    monkeypatch.setattr(dd, "_FOREST_TARGET_EDGES_PER_PART", 5)
    random.seed(7)
    edges = [(random.randrange(40), random.randrange(40)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(
        edges, "doc_a long, doc_b long"
    ).coalesce(1)  # one huge partition — the shape the branch guards
    # a forced run counts the pairs and sizes pass 1 exactly as a
    # graph over the driver limit does
    tel: dict = {}
    got = {
        r.doc_id: r.component
        for r in _star_path(distributed_gates, pairs, telemetry=tel).collect()
    }
    assert got == _driver_union_find(edges)
    assert tel["n_pairs"] == len(edges)
    assert len(tel["forest_edge_trajectory"]) > 1, tel


def test_sig_fixpoint_null_hash_forces_round():
    """A NULL (count, Σ xxhash64) hash — DECIMAL(38,0) overflow with
    ANSI off — must never satisfy the star fixpoint check: overflow
    degrades to extra rounds, not to a count-only false fixpoint
    (ADVICE r11). The only NULL==NULL fixpoint is two EMPTY edge sets."""
    from dataengineering_spark.operators.dedup import _sig_fixpoint

    assert _sig_fixpoint((0, None), (0, None))  # empty edge sets
    assert not _sig_fixpoint((5, None), (5, None))  # overflow: force round
    assert not _sig_fixpoint((5, 123), (5, None))
    assert not _sig_fixpoint((5, None), (5, 123))
    assert _sig_fixpoint((5, 123), (5, 123))
    assert not _sig_fixpoint((5, 123), (5, 124))
    assert not _sig_fixpoint((5, 123), (4, 123))


def test_cc_telemetry_records_convergence(spark, distributed_gates):
    """telemetry= fills the convergence record off the aggregates the
    engine already runs (VERDICT r11 #7): edge trajectories, rounds to
    fixpoint, endgame — probes persist it so convergence regressions
    are visible, not just wall time."""
    import random

    from dataengineering_spark.operators.dedup import connected_components

    rng = random.Random(7)
    nodes = list(range(300))
    edges = [
        (a, b)
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(500)
        )
        if a != b
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    tel: dict = {}
    labeled = _star_path(distributed_gates, df, telemetry=tel).collect()
    assert tel["endgame"] == "star"
    assert tel["n_nodes"] == len({r["doc_id"] for r in labeled})
    assert tel["forest_edge_trajectory"][0] > 0
    assert tel["star_converged"] is True
    assert tel["star_rounds_to_fixpoint"] == (
        len(tel["star_edge_trajectory"]) - 1
    )
    # trajectory is monotone non-increasing after the first round
    t = tel["star_edge_trajectory"]
    assert all(b <= a for a, b in zip(t[1:], t[2:]))
    # driver endgame records too
    tel2: dict = {}
    small = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    connected_components(small, telemetry=tel2).collect()
    assert "endgame" not in tel2 or tel2["endgame"] == "driver"


def test_cc_minlabel_telemetry_records_convergence(spark, distributed_gates):
    from dataengineering_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    tel: dict = {}
    _star_path(
        distributed_gates, df, strategy="minlabel", telemetry=tel
    ).collect()
    assert tel["endgame"] == "minlabel"
    assert tel["n_nodes"] == 6
    traj = tel["minlabel_changed_trajectory"]
    assert traj[-1] == 0  # reached fixpoint
    assert all(isinstance(c, int) for c in traj)

"""Pair-store maintenance for the streaming curation pipeline (r12):

1. ``compact_pairs_to_forest`` — contract an accumulated pair store to
   a spanning forest (SCALE.md r11: on replica-structured corpora the
   append-only pair stores grow super-linearly while every drain-time
   consumer reads them only through connected components; a spanning
   forest is CC-equivalent by construction and O(|V|) rows).
2. ``authorized_media_repair`` / ``curation_finish(media_cap_policy=)``
   — the price → authorize → re-pair → CC composition as a library
   call (VERDICT r11 #5), proven stream == capped-batch end-to-end.
"""

from __future__ import annotations

from itertools import combinations

import pytest

from pyspark.sql import functions as F

from dataengineering_spark.operators.dedup import connected_components
from dataengineering_spark.streaming.curation import (
    compact_pairs_to_forest,
    semantic_survivor_ids,
)
from dataengineering_spark.streaming.semdedup import (
    accumulated_semantic_pairs,
)
from dataengineering_spark.streaming.store import write_epoch


def _replica_pairs() -> list[tuple[int, int]]:
    """A replica-structured pair graph: dense cliques (the Σ n_i²/2
    growth shape the sf10 composition probe measured), a long chain,
    and a sparse tail."""
    pairs: list[tuple[int, int]] = []
    node = 0
    for size in (2, 3, 5, 8, 13, 21, 34):  # cliques: all-pairs edges
        members = list(range(node, node + size))
        pairs.extend(combinations(members, 2))
        node += size
    chain = list(range(node, node + 40))  # one 40-node path
    pairs.extend(zip(chain, chain[1:]))
    node += 40
    for i in range(10):  # sparse tail of 2-node components
        pairs.append((node + 2 * i, node + 2 * i + 1))
    return pairs


def _labels(spark, pairs_dir: str) -> dict[int, int]:
    comp = connected_components(
        accumulated_semantic_pairs(spark, pairs_dir),
        id_a="vec_a",
        id_b="vec_b",
        distinct_edges=False,
    )
    return {r["doc_id"]: r["component"] for r in comp.collect()}


def test_compact_pairs_to_forest_preserves_drain(spark, tmp_path):
    """drain(compacted) == drain(raw): identical CC labels AND identical
    SemDeDup survivor ids, while the store contracts to O(|V|) rows."""
    pairs = _replica_pairs()
    pairs_dir = str(tmp_path / "pairs")
    df = spark.createDataFrame(pairs, "vec_a long, vec_b long")
    # write epoch 0 twice: the second write is a replay and writes
    # nothing
    write_epoch(df, pairs_dir, 0)
    write_epoch(df, pairs_dir, 0)

    raw_labels = _labels(spark, pairs_dir)
    nodes = sorted({n for p in pairs for n in p})
    # synthetic cell assignment so the real drain-time keep-rule runs
    cells = spark.createDataFrame(
        [
            (n, [float(n % 5 + 1), 1.0], float((n % 5 + 1) ** 2 + 1), 0,
             [1.0, 0.0])
            for n in nodes
        ],
        "vec_id long, v array<double>, dd double, cid int, cv array<double>",
    )
    pairs_df = accumulated_semantic_pairs(spark, pairs_dir)
    raw_survivors = {
        r["vec_id"] for r in semantic_survivor_ids(cells, pairs_df).collect()
    }

    stats = compact_pairs_to_forest(spark, pairs_dir)
    assert stats["rows_before"] == len(pairs)  # the replay wrote nothing
    assert stats["rows_after"] < stats["rows_before"]
    assert stats["rows_after"] <= len(nodes)  # forest is O(|V|)

    assert _labels(spark, pairs_dir) == raw_labels
    pairs_df2 = accumulated_semantic_pairs(spark, pairs_dir)
    got_survivors = {
        r["vec_id"] for r in semantic_survivor_ids(cells, pairs_df2).collect()
    }
    assert got_survivors == raw_survivors

    # periodic usage: new epochs add MORE pairs after a compaction;
    # a later compaction still preserves the merged component structure
    extra = spark.createDataFrame(
        [(0, 200), (200, 201), (58, 59)], "vec_a long, vec_b long"
    )
    write_epoch(extra, pairs_dir, 1)
    merged_labels = _labels(spark, pairs_dir)
    stats2 = compact_pairs_to_forest(spark, pairs_dir)
    assert stats2["rows_after"] <= len(nodes) + 2
    assert _labels(spark, pairs_dir) == merged_labels


def test_pairs_to_forest_frame_merges_small_partitions(spark):
    """A forest pass contracts only within a partition: the replica
    graph spread over 32 partitions must still come back as a forest,
    one row per node (its root self-rows included)."""
    from dataengineering_spark.streaming.curation import pairs_to_forest_frame

    pairs = _replica_pairs()
    nodes = {n for p in pairs for n in p}
    edges = spark.createDataFrame(pairs, "src long, dst long").repartition(32)
    assert edges.rdd.getNumPartitions() >= 32
    forest, _passes = pairs_to_forest_frame(edges)
    assert (len(pairs), len(nodes)) == (940, 146)
    assert forest.count() == len(nodes)
    forest.unpersist()


def test_compact_pairs_missing_or_empty_store_is_noop(spark, tmp_path):
    missing = str(tmp_path / "never_written")
    assert compact_pairs_to_forest(spark, missing) == {
        "rows_before": 0,
        "rows_after": 0,
        "passes": 0,
    }


def test_compact_media_pairs_drops_extra_columns_safely(spark, tmp_path):
    """The media pairs store carries (doc_a, doc_b, hamming); the
    compacted store keeps only the id pair and the explicit-schema
    reader sees NULL hamming — the drain only ever selects the ids."""
    pairs_dir = str(tmp_path / "mpairs")
    spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (10, 11, 0)],
        "doc_a long, doc_b long, hamming int",
    ).write.mode("append").parquet(pairs_dir)
    before = connected_components(
        spark.read.schema("doc_a long, doc_b long, hamming int")
        .parquet(pairs_dir)
        .select("doc_a", "doc_b")
        .distinct(),
        distinct_edges=False,
    )
    before_labels = {r["doc_id"]: r["component"] for r in before.collect()}
    stats = compact_pairs_to_forest(
        spark, pairs_dir, a_col="doc_a", b_col="doc_b"
    )
    assert stats["rows_after"] <= 5
    read_back = (
        spark.read.schema("doc_a long, doc_b long, hamming int")
        .parquet(pairs_dir)
        .select("doc_a", "doc_b")
        .distinct()
    )
    after = connected_components(read_back, distinct_edges=False)
    assert {r["doc_id"]: r["component"] for r in after.collect()} == (
        before_labels
    )


@pytest.mark.parametrize("seed", [3, 17, 29])
def test_compact_preserves_labels_on_random_graphs(spark, tmp_path, seed):
    """Differential fuzz for the REWRITE path: random pair graphs
    (mixed density, self-contained components, isolated 2-cliques) —
    CC labels over the store must be identical before and after
    compaction, for any graph shape."""
    import random

    rng = random.Random(seed)
    n_nodes = rng.randint(40, 120)
    edges = set()
    for _ in range(rng.randint(30, 400)):
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs_dir = str(tmp_path / f"pairs_{seed}")
    spark.createDataFrame(
        sorted(edges), "vec_a long, vec_b long"
    ).write.mode("append").parquet(pairs_dir)
    before = _labels(spark, pairs_dir)
    stats = compact_pairs_to_forest(spark, pairs_dir)
    assert stats["rows_after"] <= stats["rows_before"]
    assert _labels(spark, pairs_dir) == before

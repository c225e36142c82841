"""In-engine iterative graph analytics (PageRank).

The reference's graph story is load-side (TigerGraph vertex/edge
ingest, ``sources/graph.py``); this adds the analytics half as plain
DataFrame iteration — the Pregel-lite shape: per superstep, one join
of the edge list against the current rank frame and one groupBy on the
destination. At scale the edge list is hash-partitioned by ``src`` and
the rank frame by node id, so each iteration is one co-partitioned
join plus one partial-combined aggregation; iterations are a FIXED
count (no convergence test ⇒ no driver round-trips beyond the loop).

Engine-portable by construction (the same recipe as the Lloyd
trainers): ranks live in integer MICRO-units and every step is integer
arithmetic —

    contrib(u) = rank(u) DIV outdeg(u)
    rank'(v)   = base + (damping * Σ contrib(u→v)) DIV 1_000_000

so any engine replays the run bit-for-bit regardless of partitioning
or summation order (BIGINT sums are associative-exact). Dangling-node
mass is dropped, which the unrolled-CTE oracle mirrors exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineering_spark.operators import robust

MICRO = 1_000_000
BASE_MICRO = 150_000  # (1 - d) in micro-units, d = 0.85
DAMPING_MICRO = 850_000


def pagerank_ranks(
    edges: DataFrame,
    nodes: DataFrame,
    n_iters: int = 3,
    checkpoint_every: int = 5,
) -> DataFrame:
    """(node, rank_micro) after ``n_iters`` fixed-point supersteps of
    WEIGHTED PageRank.

    ``edges``: (src, dst, w) directed with positive integer weights —
    a source's rank mass splits ∝ w/(Σw over its out-edges) via
    ``(rank * w) DIV out_weight``. ``nodes``: (node,) — every node,
    including sinks with no in-edges (they keep the base rank) and
    dangling nodes with no out-edges (their mass is dropped).

    The weighted edge frame is persisted for the loop (released by the
    caller via ``caching.release_tracked`` after the consuming action),
    and lineage is truncated with ``localCheckpoint`` every
    ``checkpoint_every`` supersteps — without it, each iteration stacks
    two joins onto the logical plan and Catalyst re-analysis cost grows
    superlinearly in ``n_iters`` (the known deep-iteration cliff).
    Truncation cannot change results: every step is integer arithmetic,
    so the run is deterministic under any partitioning or replay.
    """
    from dataengineering_spark.caching import persist_tracked

    outw = edges.groupBy("src").agg(F.sum("w").alias("_ow"))
    e2 = edges.join(outw, "src").select("src", "dst", "w", "_ow")
    if n_iters > 1:
        e2 = persist_tracked(e2)
    ranks = nodes.select(
        "node", F.lit(MICRO).cast("long").alias("rank_micro")
    )
    for i in range(n_iters):
        contribs = (
            e2.join(ranks, e2["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("(rank_micro * w) DIV _ow").alias("_c"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_m"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit(BASE_MICRO)
                    + F.expr(
                        f"({DAMPING_MICRO} * coalesce(_m, CAST(0 AS BIGINT)))"
                        f" DIV {MICRO}"
                    )
                )
                .cast("long")
                .alias("rank_micro"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < n_iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def bfs_hops(
    adj: DataFrame,
    source: int,
    max_hops: int,
    checkpoint_every: int = 5,
) -> DataFrame:
    """(node, dist) — single-source shortest HOP counts over a directed
    edge list ``adj(a, b)``, bounded at ``max_hops``.

    Frontier BFS, the scale-sane SSSP shape: per hop, only the
    newly-discovered frontier joins the edge list (keyed equi-join on
    the node id — co-partitioned with the edge list's hash layout at
    scale), and an anti-join against the visited set keeps state
    |V|-bounded. No path enumeration ever materializes, unlike naive
    recursive expansion whose intermediate grows with path COUNT.
    The source row is always emitted (dist 0), reachable or not —
    matching the recursive-CTE oracle's anchor row. Lineage is cut
    every ``checkpoint_every`` hops (pagerank_ranks precedent) so deep
    traversals don't stack a per-hop plan pyramid.
    """
    spark = adj.sparkSession
    dist = spark.createDataFrame([(source, 0)], schema="node bigint, dist int")
    frontier = dist
    for hop in range(1, max_hops + 1):
        cand = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select(F.col("b").alias("node"))
            .distinct()
        )
        new = cand.join(dist, "node", "left_anti").withColumn(
            "dist", F.lit(hop).cast("int")
        )
        dist = dist.unionByName(new)
        frontier = new
        if checkpoint_every and hop % checkpoint_every == 0 and hop < max_hops:
            dist = dist.localCheckpoint(eager=False)
            frontier = frontier.localCheckpoint(eager=False)
    return dist


def _degrees(edge_list) -> dict:
    deg: dict = {}
    for a, b in edge_list:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return deg


def kcore_peel(edges: DataFrame, k: int, n_iters: int) -> DataFrame:
    """(node, degree) after ``n_iters`` bounded peel rounds: each round
    drops every node with degree < ``k`` and the edges incident to it
    (fixed round count, NOT to-fixpoint — the same bounded-superstep
    contract as the unrolled-CTE oracle).

    Graphs of at most ``robust._EDGE_DRIVER_MAX_ROWS`` edges pass the
    :func:`~dataengineering_spark.operators.robust.small_frame_rows`
    gate and peel in plain Python with identical round semantics and
    zero supersteps.  The distributed path is the scale story: per
    round one explode→count aggregate and two left-semi joins against
    the alive set, with a per-round persist so the lazy plan stays
    linear in rounds instead of 3^rounds.

    ``edges`` must be distinct undirected (a < b) pairs.  A NULL
    endpoint counts toward degree in the rounds its edge is present
    (NULL is a group of the degree aggregate) and is never alive (the
    semi joins never match NULL), so its edges drop in the first round.
    """
    from dataengineering_spark.caching import persist_tracked

    # persisted before the gate, so the gate's pull and the distributed
    # rounds share one evaluation of the input plan
    e = persist_tracked(edges)
    rows = robust.small_frame_rows(e, ["a", "b"], robust._EDGE_DRIVER_MAX_ROWS)
    if rows is not None:
        edge_list = [(r[0], r[1]) for r in rows]
        for _ in range(n_iters):
            alive = {
                n for n, d in _degrees(edge_list).items() if n is not None and d >= k
            }
            edge_list = [(a, b) for a, b in edge_list if a in alive and b in alive]
        return e.sparkSession.createDataFrame(
            list(_degrees(edge_list).items()), schema="node bigint, degree bigint"
        )
    for _ in range(n_iters):
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        alive = deg.filter(F.col("d") >= k).select("node")
        # no explicit broadcast: an eager broadcast exchange per round
        # costs a separate job; left lazy, AQE still picks broadcast
        # for the tiny alive set and the whole peel runs as one job
        e = persist_tracked(
            e.join(alive.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
        )
    # cast matches the driver path's createDataFrame schema so the
    # gate never flips the output dtype with edge count (ADVICE r8);
    # the cast sits INSIDE the array — a generator can't be nested in
    # an outer cast expression
    return (
        e.select(
            F.explode(
                F.array(F.col("a").cast("long"), F.col("b").cast("long"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )

"""Differential fuzzing: custom operators vs DuckDB's NATIVE
implementations on randomized inputs — not the registry's fixed
corpus, but hypothesis-generated frames, so the semantics are checked
across the input space (ties, duplicates, singletons, empty groups).
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pytest

# Long-horizon fuzz/soak/equivalence suite: excluded from the default
# (driver-budget) pytest run; gates shipping via `make test-slow`.
pytestmark = pytest.mark.slow


def _duck(pdf_map: dict) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, pdf in pdf_map.items():
        con.register(name, pdf)
    return con


@settings(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # key
            st.integers(0, 50),  # ts (ties likely)
            st.integers(-100, 100),  # value
        ),
        min_size=1,
        max_size=40,
    )
)
def test_log_index_matches_duckdb_row_number(spark, rows):
    """W1 ranking semantics vs DuckDB's native ROW_NUMBER, with the
    full (ts, value, uid) tie-break chain made deterministic."""
    from dataengineering_spark.operators.windows import log_index

    pdf = pd.DataFrame(rows, columns=["k", "ts", "v"])
    pdf["uid"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    got = {
        (r.uid, r.log_index)
        for r in log_index(
            df, partition_by="k", sort_columns=["ts", "v", "uid"]
        ).collect()
    }
    con = _duck({"t": pdf})
    want = {
        (uid, rn)
        for uid, rn in con.execute(
            "SELECT uid, CAST(ROW_NUMBER() OVER ("
            "PARTITION BY k ORDER BY ts, v, uid) AS BIGINT) FROM t"
        ).fetchall()
    }
    con.close()
    assert got == want


@settings(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30), st.integers(-9, 9)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
def test_asof_join_matches_duckdb_native_asof(spark, left_rows, right_rows):
    """The custom as-of operator vs DuckDB's NATIVE ASOF JOIN — an
    independent engine's implementation of the same semantics
    (backward, at-or-before, per key)."""
    from pyspark.sql import functions as F

    from dataengineering_spark.operators.asof import asof_join

    lp = pd.DataFrame(left_rows, columns=["k", "lts"])
    rp = pd.DataFrame(right_rows, columns=["k", "rts", "val"])
    # timestamps must be actual timestamps for the operator contract
    lf = spark.createDataFrame(lp).select(
        "k", F.timestamp_seconds(F.col("lts")).alias("lts"), F.col("lts").alias("lsec")
    )
    rf = spark.createDataFrame(rp).select(
        "k", F.timestamp_seconds(F.col("rts")).alias("rts"), "val"
    )
    got = {
        (r.k, r.lsec, r.val_asof)
        for r in asof_join(
            lf, rf, on=["k"], left_ts="lts", right_ts="rts", value_cols=["val"]
        ).collect()
    }
    con = _duck({"l": lp, "r": rp})
    want = {
        tuple(row)
        for row in con.execute(
            "SELECT l.k, l.lts, r.val FROM l ASOF LEFT JOIN r"
            " ON l.k = r.k AND l.lts >= r.rts"
        ).fetchall()
    }
    con.close()
    assert got == want


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # key
            st.integers(0, 200_000),  # seconds offset (dense → overlapping windows)
            st.integers(-50, 50),  # integer value → exact sums
        ),
        min_size=1,
        max_size=35,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_range_frame_matches_duckdb_interval_window(spark, rows):
    """Time-interval RANGE frames (24h trailing sum + count) vs
    DuckDB's RANGE BETWEEN INTERVAL window on random timestamps —
    pins the boundary semantics (inclusive at both frame edges) the
    rolling_24h family relies on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["k", "sec", "v"])
    df = spark.createDataFrame(pdf).select(
        "k", "sec", "v", F.timestamp_seconds(F.col("sec")).alias("ts")
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-86400, 0)
    )
    got = {
        (r.k, r.sec, r.s, r.c)
        for r in df.select(
            "k", "sec",
            F.sum("v").over(w).alias("s"),
            F.count(F.lit(1)).over(w).alias("c"),
        ).collect()
    }
    con = _duck({"t": pdf})
    want = {
        tuple(row)
        for row in con.execute(
            """
            SELECT k, sec,
              CAST(SUM(v) OVER w AS BIGINT),
              CAST(COUNT(*) OVER w AS BIGINT)
            FROM (SELECT k, sec, v, to_timestamp(sec) AS ts FROM t)
            WINDOW w AS (PARTITION BY k ORDER BY ts
                         RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                         AND CURRENT ROW)
            """
        ).fetchall()
    }
    con.close()
    assert got == want


@settings(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_match_union_find(spark, distributed_gates, edges):
    """Min-label propagation vs a pure-Python union-find on random
    graphs — chains, cycles, self-loops, and isolated pairs included;
    the distributed fixpoint must produce exactly the min-id labeling."""
    from dataengineering_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    # the fixture forces the distributed engines — the paths this fuzz
    # exists to cover; the size-gated driver fallback is checked
    # against the same reference below.
    with distributed_gates():
        got = {
            (r[0], r[1])
            for r in connected_components(pairs, strategy="minlabel").collect()
        }
        # the r10 default: partition-forest contraction +
        # large-star/small-star rounds
        got_star = {(r[0], r[1]) for r in connected_components(pairs).collect()}
    got_driver = {
        (r[0], r[1]) for r in connected_components(pairs).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    nodes = {n for e in edges for n in e}
    want = {(n, find(n)) for n in nodes}
    assert got == want
    assert got_driver == want
    assert got_star == want


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # user
            st.integers(0, 120),  # minutes offset — exact-gap boundaries likely
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_native_session_window_matches_gap_islands(spark, rows):
    """Spark's NATIVE session_window vs the lag-island formulation the
    oracle uses — including EXACT-gap boundaries (diff == gap merges on
    both: Spark extends while ts <= prev_end, the island rule splits
    only on diff > gap), which the µs-grained corpus never exercises."""
    from pyspark.sql import functions as F

    GAP_MIN = 30
    pdf = pd.DataFrame(rows, columns=["u", "m"])
    df = spark.createDataFrame(pdf).select(
        "u", "m", F.timestamp_seconds(F.col("m") * 60).alias("ts")
    )
    native = {
        (r.u, r.start_m, r.n)
        for r in df.groupBy(
            F.session_window("ts", f"{GAP_MIN} minutes").alias("w"), "u"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "u",
            (F.col("w.start").cast("long") / 60).cast("long").alias("start_m"),
            "n",
        )
        .collect()
    }
    con = _duck({"t": pdf})
    islands = {
        tuple(row)
        for row in con.execute(
            f"""
            WITH g AS (
              SELECT u, m,
                CASE WHEN lag(m) OVER w IS NULL
                       OR m - lag(m) OVER w > {GAP_MIN} THEN 1 ELSE 0 END AS new_s
              FROM t WINDOW w AS (PARTITION BY u ORDER BY m)
            ),
            s AS (
              SELECT u, m, SUM(new_s) OVER (PARTITION BY u ORDER BY m
                                            ROWS UNBOUNDED PRECEDING) AS sid
              FROM g
            )
            SELECT u, CAST(MIN(m) AS BIGINT) AS start_m,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM s GROUP BY u, sid
            """
        ).fetchall()
    }
    con.close()
    assert native == islands


@settings(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # group
            st.integers(-10**9, 10**9),  # cents → value with 2 exact decimals
        ),
        min_size=1,
        max_size=60,
    )
)
def test_decimal_routed_sum_is_engine_exact(spark, rows):
    """The engine's core numeric contract, fuzzed: dsum (decimal-routed
    double sum) must equal DuckDB's decimal sum EXACTLY — as strings,
    no tolerance — for any magnitude and any partitioning, where a
    naive double sum would drift with order."""
    from pyspark.sql import functions as F

    from dataengineering_spark.functions.scalars import dsum

    pdf = pd.DataFrame(rows, columns=["g", "cents"])
    pdf["v"] = pdf["cents"] / 100.0
    df = spark.createDataFrame(pdf[["g", "v"]]).repartition(7)
    got = {
        (r.g, str(r.s)) for r in df.groupBy("g").agg(dsum("v", "s")).collect()
    }
    con = _duck({"t": pdf[["g", "v"]]})
    want = {
        (g, str(s))
        for g, s in con.execute(
            "SELECT g, CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR)"
            " AS DOUBLE) FROM t GROUP BY g"
        ).fetchall()
    }
    con.close()
    assert got == want


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 600)),  # (key, minute)
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_sliding_window_matches_duckdb_replication(spark, rows):
    """Spark's native sliding window (1h size, 30m slide) vs the
    replicate-into-covering-windows formulation — every event lands in
    exactly size/slide windows, window starts aligned to the slide."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["k", "m"])
    df = spark.createDataFrame(pdf).select(
        "k", F.timestamp_seconds(F.col("m") * 60).alias("ts")
    )
    native = {
        (r.k, r.w_start_m, r.n)
        for r in df.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "k",
            (F.col("w.start").cast("long") / 60).cast("long").alias("w_start_m"),
            "n",
        )
        .collect()
    }
    con = _duck({"t": pdf})
    want = {
        tuple(row)
        for row in con.execute(
            """
            WITH cov AS (
              SELECT k, m,
                CAST(m // 30 * 30 AS BIGINT) - CAST(UNNEST([0, 30]) AS BIGINT)
                  AS w_start_m
              FROM t
            )
            SELECT k, w_start_m, CAST(COUNT(*) AS BIGINT) AS n
            FROM cov
            WHERE m >= w_start_m AND m < w_start_m + 60 AND w_start_m >= -30
            GROUP BY k, w_start_m
            """
        ).fetchall()
    }
    con.close()
    assert native == want


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "日", "é", ""]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_span_dedup_matches_python_reference(spark, docs):
    """Inter-document span dedup vs a direct Python keep-first sweep —
    duplicate spans within one doc, across docs, multi-byte words,
    empty words, and sub-span-length tails included."""
    from dataengineering_spark.operators.dedup import span_dedup

    SPAN = 3
    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.kept_text, r.n_spans, r.n_kept)
        for r in span_dedup(df, span_words=SPAN).collect()
    }

    seen: set[str] = set()
    want = set()
    for doc_id, text in enumerate(texts):
        words = text.split(" ")  # python split('') -> [''] matches F.split
        spans = [
            " ".join(words[s : s + SPAN]) for s in range(0, len(words), SPAN)
        ]
        kept = []
        for sp in spans:
            if sp not in seen:
                seen.add(sp)
                kept.append(sp)
        want.add((doc_id, " ".join(kept), len(spans), len(kept)))
    assert got == want


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1000),  # key
            st.integers(0, 40),  # epochs in tenths: 0.0 .. 4.0
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_epoch_upsample_matches_closed_form(spark, rows):
    """epoch_upsample vs the copy-count law computed directly in
    Python with the same md5-derived hash — zero-epoch rows must
    vanish, fractional rows replicate for exactly the hash-chosen
    keys, and copy_ids are dense 1..n."""
    import hashlib

    from dataengineering_spark.operators.sampling import epoch_upsample

    df = spark.createDataFrame(
        [(k, t / 10.0) for k, t in rows], "k long, epochs double"
    )
    got = sorted(
        (r.k, r.copy_id) for r in epoch_upsample(df, "epochs", "k").collect()
    )

    want = []
    for k, tenths in rows:
        epochs = tenths / 10.0
        h = int(hashlib.md5(f"epoch|{k}".encode()).hexdigest()[:8], 16)
        frac_ppm = round((epochs - int(epochs)) * 1e6)
        n = int(epochs) + (1 if h % 1_000_000 < frac_ppm else 0)
        want += [(k, c) for c in range(1, n + 1)]
    assert got == sorted(want)


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10_000),  # key
            st.sampled_from([1, 2, 4, 8, 16]),  # power-of-two weight
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 12),  # n
)
def test_weighted_sample_matches_python_reference(spark, rows, n):
    """Efraimidis–Spirakis selection vs a Python recomputation of the
    identical priority math (md5-derived uniform, sqrt chain) — the
    top-n set and its tie-breaks must agree exactly."""
    import hashlib
    import math

    from dataengineering_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(rows, "k long, w int")
    got = [
        r.k for r in weighted_sample(df, "w", n, key_col="k").collect()
    ]

    def pri(k: int, w: int) -> float:
        h = int(hashlib.md5(f"wsample|{k}".encode()).hexdigest()[:8], 16)
        u = (h + 1) / 2**32
        x = u
        for _ in range(int(math.log2(w))):
            x = math.sqrt(x)
        return x

    want = [
        k for k, w in sorted(rows, key=lambda t: (-pri(*t), t[0]))[:n]
    ]
    assert sorted(got) == sorted(want)


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # key — few groups, heavy ties
            st.integers(-5, 5),  # val — tie-dense value space
        ),
        min_size=1,
        max_size=40,
    )
)
def test_discrete_pcts_matches_python_reference(spark, rows):
    """The rank-offset percentile operator vs a direct Python
    sort-and-index reference across the edge space the corpus never
    hits: singleton groups, all-tied values, p=0 / p=1 endpoints."""
    import math

    from dataengineering_spark.operators.robust import discrete_pcts

    pcts = (0.0, 0.5, 0.95, 1.0)
    names = ("p0", "p50", "p95", "p100")
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    pdf["uid"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    got = {
        r.k: (r.p0, r.p50, r.p95, r.p100)
        for r in discrete_pcts(df, "k", "v", "uid", pcts, names).collect()
    }
    want = {}
    for k in pdf["k"].unique():
        vals = sorted(
            pdf[pdf["k"] == k][["v", "uid"]].itertuples(index=False)
        )
        n = len(vals)
        want[k] = tuple(vals[math.floor(p * (n - 1))][0] for p in pcts)
    assert got == want


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1),  # key
            st.integers(0, 2),  # day offset
            st.integers(0, 86_399_999_999),  # microsecond-of-day (ties likely at ends)
            st.integers(0, 50_000),  # value in cents
        ),
        min_size=1,
        max_size=30,
    )
)
def test_step_twap_matches_python_reference(spark, rows):
    """The integer-exact TWAP operator vs a direct Python step-function
    integral: same centi-unit flooring, same microsecond durations,
    same single integer division — including same-timestamp ties
    (zero-duration segments) and single-event days (duration = to
    midnight)."""
    import datetime
    import math

    from pyspark.sql import types as T

    from dataengineering_spark.operators.robust import step_twap

    base = datetime.datetime(2024, 3, 1)
    recs = []
    for uid, (k, dayoff, us, cents) in enumerate(rows):
        ts = base + datetime.timedelta(days=dayoff, microseconds=us)
        recs.append((f"k{k}", ts, cents / 100.0, uid))
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    df = spark.createDataFrame(recs, schema)
    got = {
        (r.event_type, r.day.isoformat()): (r.n, r.dur_total_us, r.twap_micro)
        for r in step_twap(df).collect()
    }
    groups: dict = {}
    for k, ts, v, uid in recs:
        groups.setdefault((k, ts.date()), []).append((ts, uid, v))
    want = {}
    for (k, day), seq in groups.items():
        seq.sort()
        midnight = datetime.datetime.combine(day, datetime.time()) + datetime.timedelta(
            days=1
        )
        s1 = s2 = 0
        for i, (ts, uid, v) in enumerate(seq):
            nxt = seq[i + 1][0] if i + 1 < len(seq) else midnight
            dur = (nxt - ts) // datetime.timedelta(microseconds=1)
            wv = math.floor(v * 100 + 0.5)
            s1 += wv * dur
            s2 += dur
        want[(k, day.isoformat())] = (len(seq), s2, (s1 * 10000) // s2)
    assert got == want


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 4),  # group
            st.integers(1, 500),  # weight (positive units)
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(0, 10_000),  # per-group total units
)
def test_largest_remainder_matches_python_reference(spark, rows, total):
    """Allocation equals a direct Python largest-remainder replay, and
    the method's defining invariants hold: per-group sums hit the
    total exactly and every share is within 1 unit of exact
    proportionality."""
    from dataengineering_spark.operators.allocation import largest_remainder

    pdf = pd.DataFrame(rows, columns=["g", "w"])
    pdf["uid"] = range(len(pdf))
    pdf["t"] = total
    df = spark.createDataFrame(pdf)
    got = {
        r.uid: r.alloc
        for r in largest_remainder(
            df, group="g", weight="w", total="t", tie="uid"
        ).collect()
    }

    want: dict[int, int] = {}
    for g, grp in pdf.groupby("g"):
        W = int(grp["w"].sum())
        base = {int(r.uid): (total * int(r.w)) // W for r in grp.itertuples()}
        rem = {int(r.uid): (total * int(r.w)) % W for r in grp.itertuples()}
        leftover = total - sum(base.values())
        for uid in sorted(base, key=lambda u: (-rem[u], u))[:leftover]:
            base[uid] += 1
        want.update(base)
    assert got == want
    for g, grp in pdf.groupby("g"):
        allocs = [got[int(r.uid)] for r in grp.itertuples()]
        assert sum(allocs) == total
        W = int(grp["w"].sum())
        for r in grp.itertuples():
            exact = total * int(r.w) / W
            assert exact - 1 < got[int(r.uid)] < exact + 1


@settings(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),  # directed edges
        min_size=0,
        max_size=40,
    ),
    st.integers(1, 5),  # max_hops
)
def test_bfs_hops_matches_python_bfs(spark, edges, max_hops):
    """Frontier BFS equals a driver-side queue BFS: same reachable
    set, same minimal hop counts, source always present at dist 0."""
    from dataengineering_spark.operators.graph_analytics import bfs_hops

    edges = [(a, b) for a, b in edges if a != b]
    if edges:
        adj = spark.createDataFrame(edges, schema="a bigint, b bigint").distinct()
    else:
        adj = spark.createDataFrame([], schema="a bigint, b bigint")
    got = {r.node: r.dist for r in bfs_hops(adj, 0, max_hops).collect()}

    out: dict[int, list[int]] = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
    want = {0: 0}
    frontier = [0]
    for hop in range(1, max_hops + 1):
        nxt = sorted(
            {b for a in frontier for b in out.get(a, ()) if b not in want}
        )
        for b in nxt:
            want[b] = hop
        frontier = nxt
    assert got == want


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # group
            st.integers(1, 20),  # qty
            st.booleans(),  # receipt?
        ),
        min_size=1,
        max_size=25,
    )
)
def test_fifo_match_equals_queue_simulation(spark, rows):
    """The interval-overlap formulation IS FIFO: the set-at-a-time
    join must produce exactly the (receipt, issue, qty) pairings an
    imperative queue walk produces, on random receipt/issue streams
    including exhausted-receipt and exhausted-issue tails."""
    from dataengineering_spark.operators.allocation import fifo_match

    pdf = pd.DataFrame(rows, columns=["g", "qty", "is_r"])
    pdf["seq"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    got = {
        (r.g, r.r_seq, r.i_seq): r.qty_matched
        for r in fifo_match(
            df, group="g", qty="qty", order=("seq",), receipt_flag="is_r"
        ).collect()
    }

    want: dict[tuple, int] = {}
    for g, grp in pdf.groupby("g"):
        receipts = [
            [int(r.seq), int(r.qty)] for r in grp.itertuples() if r.is_r
        ]
        issues = [[int(r.seq), int(r.qty)] for r in grp.itertuples() if not r.is_r]
        ri = 0
        for i_seq, need in issues:
            while need > 0 and ri < len(receipts):
                r_seq, avail = receipts[ri]
                take = min(need, avail)
                want[(g, r_seq, i_seq)] = take
                need -= take
                receipts[ri][1] -= take
                if receipts[ri][1] == 0:
                    ri += 1
    assert got == want


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # key
            st.integers(-1000, 1000),  # value (negatives included)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_cusum_changepoint_matches_python_scan(spark, rows):
    """The windowed n·prefix − k·S argmax equals a direct Python scan
    of the same statistic, on random series with negative values,
    constant series (stat 0 everywhere → earliest position wins), and
    singletons."""
    from dataengineering_spark.operators.robust import cusum_changepoint

    pdf = pd.DataFrame(rows, columns=["k", "y"])
    pdf["pos"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    got = {
        (r.k, r.pos, r.abs_stat, r.n)
        for r in cusum_changepoint(df, key="k", order_col="pos", val="y").collect()
    }

    want = set()
    for k, grp in pdf.groupby("k"):
        ys = [int(r.y) for r in grp.itertuples()]
        poss = [int(r.pos) for r in grp.itertuples()]
        n, s = len(ys), sum(ys)
        prefix, best = 0, None
        for i, y in enumerate(ys):
            prefix += y
            stat = abs(n * prefix - (i + 1) * s)
            if best is None or stat > best[1]:
                best = (poss[i], stat)
        want.add((k, best[0], best[1], n))
    assert got == want


@settings(
    deadline=None,
    max_examples=6,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 4),
    st.integers(1, 3),
)
def test_kcore_peel_driver_gate_matches_distributed(
    spark, distributed_gates, raw, k, iters
):
    """The size-gated driver peel must replay the distributed bounded
    supersteps exactly — same fixed round count, same surviving degree
    table — on random graphs including stars, cycles, and isolates."""
    from dataengineering_spark.caching import release_tracked
    from dataengineering_spark.operators.graph_analytics import kcore_peel

    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    if not edges:
        return
    df = spark.createDataFrame(sorted(edges), "a long, b long")
    with distributed_gates():
        dist = {(r.node, r.degree) for r in kcore_peel(df, k, iters).collect()}
    drv = {(r.node, r.degree) for r in kcore_peel(df, k, iters).collect()}
    release_tracked()
    assert dist == drv


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),        # video id
            st.integers(0, 3),        # slot
            st.integers(0, 1 << 20),  # frame hash (32-bit lane)
        ),
        min_size=1,
        max_size=24,
        unique_by=lambda t: (t[0], t[1]),
    ),
    st.integers(1, 3),  # min_matching
)
def test_video_neardup_pairs_match_bruteforce(spark, rows, k):
    """The slot-aligned pigeonhole pair builder vs a pure-Python brute
    force over random frame-hash tables: a pair exists iff >= k slots
    carry hashes within hamming 3 — the pigeonhole join must neither
    invent nor lose slot matches at any table shape (missing slots,
    single-frame videos, identical hashes across many videos)."""
    from dataengineering_spark.operators.dedup import video_neardup_pairs

    df = spark.createDataFrame(rows, "doc_id long, slot long, dhash long")
    got = {
        (r.doc_a, r.doc_b, r.n_match)
        for r in video_neardup_pairs(
            df, max_distance=3, min_matching=k, bits=32
        ).collect()
    }
    by_vid: dict[int, dict[int, int]] = {}
    for v, s, h in rows:
        by_vid.setdefault(v, {})[s] = h
    want = set()
    vids = sorted(by_vid)
    for i, a in enumerate(vids):
        for b in vids[i + 1:]:
            n = sum(
                1
                for s in by_vid[a]
                if s in by_vid[b]
                and bin(by_vid[a][s] ^ by_vid[b][s]).count("1") <= 3
            )
            if n >= k:
                want.add((a, b, n))
    assert got == want

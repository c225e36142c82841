"""Seeded input generator for the benchmark.

Three steps, all driven by ``seed``:

1. ``write_base`` draws a small star-schema corpus with numpy, shaped
   like the engine's test corpus (same ten tables, column types and
   value domains, TIMESTAMP(MICROS) columns, ~5% near-duplicate
   documents).
2. ``scripts/make_scaled_sf.py`` (called as a program, not copied)
   replicates the fact tables ``copies`` times with shifted keys and
   per-copy letter-rotated document text.
3. ``finalize`` rewrites each table in a seed-driven row order,
   rotates document letters by ``seed % 26`` and cuts the file into
   several row groups.

The same seed gives byte-identical inputs. Every derived value keeps
at most two decimal digits so the oracle's DECIMAL(18,6) sums stay
exact on both engines.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# the key that fixes each table's seeded row order
ORDER_KEY = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey, l_linenumber, l_partkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
ADJ = "small red blue hot old large green cold".split()
NOUN = "ring widget bolt gear gizmo plate anvil".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
DAY_US = 86_400 * 1_000_000
ROW_GROUPS = 4  # per table file (DuckDB keeps small tables in one)


@dataclass(frozen=True)
class Sizes:
    """Base row counts, before ``copies``-fold replication."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    documents: int
    embeddings: int
    copies: int = 1


def _days_us(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype("int64")
    b = np.datetime64(hi, "D").astype("int64")
    return rng.integers(a, b + 1, n) * DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _docs(rng, n: int) -> list[str]:
    texts: list[str] = []
    lens = rng.integers(10, 100, n)
    dup = rng.random(n) < 0.05
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, lens[i])))
    return texts


def base_tables(seed: int, s: Sizes) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = s.customer
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })
    n = s.supplier
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = s.part
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n), rng.choice(NOUN, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(PTYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0,
    })
    n = s.orders
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customer, n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n)),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })
    n = s.lineitem
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s.orders, n),
        "l_partkey": rng.integers(0, s.part, n),
        "l_suppkey": rng.integers(0, s.supplier, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n)),
    })
    n = s.events
    span_us = 30 * DAY_US
    gaps = rng.exponential(span_us / n, n).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(np.datetime64("2024-01-01", "us").astype("int64") + np.cumsum(gaps)),
        "user_id": rng.integers(0, max(1, n // 67), n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = s.documents
    texts = _docs(rng, n)
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    n = s.embeddings
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_base(out_dir: str, seed: int, s: Sizes) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(seed, s).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def replicate(repo: str, src: str, dst: str, copies: int) -> None:
    """Key-shifted replication through the repository's own script."""
    subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "make_scaled_sf.py"),
         src, dst, str(copies)],
        check=True,
        stdout=subprocess.DEVNULL,
    )


def finalize(src: str, dst: str, seed: int) -> dict[str, dict]:
    """Seeded row order, seeded letter rotation, ``ROW_GROUPS`` groups
    per file. Returns per-table rows, bytes and row groups."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    rot = "abcdefghijklmnopqrstuvwxyz"
    shift = seed % 26
    info: dict[str, dict] = {}
    try:
        for name in TABLES:
            path = os.path.join(src, f"{name}.parquet")
            rel = f"read_parquet('{path}')"
            n = con.sql(f"SELECT COUNT(*) FROM {rel}").fetchone()[0]
            cols = "*"
            if name == "documents" and shift:
                cols = (f"* REPLACE (translate(text, '{rot}', "
                        f"'{rot[shift:] + rot[:shift]}') AS text)")
            out = os.path.join(dst, f"{name}.parquet")
            con.execute(
                f"COPY (SELECT {cols} FROM {rel} "
                f"ORDER BY hash({ORDER_KEY[name]}, {seed})) TO '{out}' "
                f"(FORMAT parquet, ROW_GROUP_SIZE {max(1, -(-n // ROW_GROUPS))})"
            )
            meta = pq.ParquetFile(out).metadata
            info[name] = {
                "rows": meta.num_rows,
                "bytes": os.path.getsize(out),
                "row_groups": meta.num_row_groups,
            }
    finally:
        con.close()
    return info


def generate(repo: str, work: str, seed: int, s: Sizes) -> dict[str, dict]:
    """Build the corpus for ``seed`` under ``work``/corpus and return
    its per-table shape."""
    base = os.path.join(work, "base")
    scaled = os.path.join(work, "scaled")
    out = os.path.join(work, "corpus")
    for d in (base, scaled, out):
        shutil.rmtree(d, ignore_errors=True)
    write_base(base, seed, s)
    replicate(repo, base, scaled, s.copies)
    info = finalize(scaled, out, seed)
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(scaled, ignore_errors=True)
    return info

"""Shared fixtures: one SparkSession per test session, DuckDB oracle
connection with the corpus pre-registered as views (mirrors the
driver's verify harness)."""

from __future__ import annotations

import math

import duckdb
import pytest

from dataengineering_spark.catalog import TESTDATA_TABLES
from dataengineering_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dataengineering-spark-tests", shuffle_partitions=8)
    _assert_ts_sanity(s)
    yield s
    s.stop()


@pytest.fixture
def distributed_gates(monkeypatch):
    """Force the 100 TB branch of every small-frame gate.

    ``with distributed_gates() as calls:`` swaps
    ``robust.small_frame_rows`` for a gate that always answers "over
    the limit", so each gated operator runs its distributed branch
    exactly as a frame over the limit would, and ``calls`` records the
    ``(cols, max_rows)`` of every gate reached.  The edge limit drops
    to 1 as well: CC re-contracts its forest down to ``4·|V|`` edges,
    the target of a graph far over the limit, instead of stopping at
    the 500k-edge limit that every test graph is already under.
    Outside the block the gates choose by size as in production."""
    import contextlib

    from dataengineering_spark.operators import robust

    @contextlib.contextmanager
    def forced():
        calls = []

        def over_limit(df, cols, max_rows):
            calls.append((tuple(cols), max_rows))
            return None

        with monkeypatch.context() as m:
            m.setattr(robust, "small_frame_rows", over_limit)
            m.setattr(robust, "_EDGE_DRIVER_MAX_ROWS", 1)
            yield calls

    return forced


def _assert_ts_sanity(spark):
    """Canary: events.ts must decode to plausible wall-clock values.

    A parquet timeUnit regeneration read with the wrong unit lands every
    event near the 1970 epoch and surfaces as dozens of mysterious hash
    mismatches downstream — fail loudly here instead (round-4 postmortem).
    """
    import datetime

    from dataengineering_spark.catalog import read_table

    lo = read_table(spark, "events", SF_ORACLE).agg({"ts": "min"}).collect()[0][0]
    assert lo is not None and lo > datetime.datetime(
        2000, 1, 1
    ), f"events.ts decodes to {lo}: parquet timestamp unit mis-read"


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine compare."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    try:  # Decimal → float-insensitive string
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    return v


def _spark_type_family(dt) -> str:
    """Map a Spark DataType to a coarse cross-engine family."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, getattr(T, "TimestampNTZType", T.TimestampType))):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return "other"


def _duck_type_family(type_str: str) -> str:
    """Map a DuckDB result type name to the same coarse family.

    HUGEINT/UHUGEINT deliberately map to "float": they exceed int64, so
    Arrow/pandas materialize them as float64 on the driver side, which is
    exactly the class of silent driver-hash divergence this check exists to
    catch (bin_packing_merged, round 5).  An oracle that produces HUGEINT
    against a Spark bigint column must CAST(... AS BIGINT).
    """
    t = type_str.upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("HUGEINT", "UHUGEINT"):
        return "float"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t in ("VARCHAR", "STRING", "TEXT"):
        return "string"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t in ("BLOB", "BYTEA", "BINARY"):
        return "binary"
    return "other"


def assert_type_families_match(spark_df, duck_rel):
    """Column-wise type-family comparison (int / float / decimal / string /
    bool / date / timestamp / binary).

    The driver's value hash is dtype-sensitive: DuckDB HUGEINT fetches as a
    Python int (equal to Spark's) but hashes as float64 driver-side, so a
    pure value compare is blind to it.  Family-checking both schemas makes
    the in-repo gate a strict superset of the driver again (round-5
    postmortem).  "other" (lists/structs) is skipped — those columns are
    value-compared element-wise already.
    """
    s_fam = {f.name: _spark_type_family(f.dataType) for f in spark_df.schema.fields}
    d_fam = {
        c: _duck_type_family(str(t))
        for c, t in zip(duck_rel.columns, duck_rel.types)
    }
    bad = []
    for c in sorted(s_fam):
        sf, df_ = s_fam[c], d_fam.get(c)
        if df_ is None or "other" in (sf, df_):
            continue
        if sf != df_:
            bad.append((c, sf, df_))
    assert not bad, (
        "type-family mismatch (col, spark, duck): "
        f"{bad} — driver hash is dtype-sensitive; cast the oracle (e.g. "
        "CAST(SUM(x) AS BIGINT)) or the Spark side so families agree"
    )


def assert_frames_match(spark_df, duck_rel, check_exact_floats=True):
    """Order-insensitive, column-name-sorted comparison — the same
    contract the driver's CORRECTNESS check uses (row count + schema
    names + value hash), but with exact cell equality plus a type-family
    check so any driver hash scheme passes if this does."""
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_rel.columns)
    assert s_cols == d_cols, f"column mismatch: {s_cols} vs {d_cols}"
    assert_type_families_match(spark_df, duck_rel)

    s_rows = [tuple(_norm(r[c]) for c in s_cols) for r in spark_df.collect()]
    d_idx = {c: i for i, c in enumerate(duck_rel.columns)}
    d_rows = [
        tuple(_norm(row[d_idx[c]]) for c in s_cols) for row in duck_rel.fetchall()
    ]
    assert len(s_rows) == len(d_rows), f"row count {len(s_rows)} vs {len(d_rows)}"
    s_sorted = sorted(s_rows, key=repr)
    d_sorted = sorted(d_rows, key=repr)
    mismatches = []
    for a, b in zip(s_sorted, d_sorted):
        if a != b:
            if not check_exact_floats and _approx_eq(a, b):
                continue
            mismatches.append((a, b))
            if len(mismatches) >= 5:
                break
    assert not mismatches, f"value mismatches (spark, duck): {mismatches}"


def _approx_eq(a, b, rel=1e-9):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=rel, abs_tol=1e-12):
                return False
        elif x != y:
            return False
    return True

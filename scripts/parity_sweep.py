"""Cross-sf oracle-parity sweep: every registry query vs DuckDB at an
ARBITRARY scale factor (the CI gate pins sf0.01; the driver checks
sf0.01 too). Running the identical comparison at sf0.001 and sf0.1
flushes out data-dependent greens — results that only match because of
a coincidence of the sf0.01 corpus (the round-4 PQ empty-cluster
hazard was exactly this class).

Usage: python scripts/parity_sweep.py [sf_dir ...] [--artifact PATH] [--trace]
Defaults to sf0.001 and sf0.1. Prints one line per (sf, query) failure
and a final summary; exit code 1 on any mismatch.

``--artifact PATH`` additionally writes a CORRECTNESS_r*.json-format
record ({name: {rows_match, schema_match, hash_match, err}} — green
only when the query matched at EVERY swept sf) so
``rebuild_driver_priority.py --restamp-verified=PATH`` has a
machine-checked evidence chain instead of a hand-claimed one (ADVICE
r13 medium).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def parse_args(argv: list[str]) -> argparse.Namespace:
    """Positional sf dirs (empty list when none is given), ``--artifact
    PATH`` or ``--artifact=PATH``, and ``--trace`` (print a traceback
    per failure)."""
    p = argparse.ArgumentParser(description="cross-sf oracle-parity sweep")
    p.add_argument("sf_dirs", nargs="*")
    p.add_argument("--artifact", help="write a CORRECTNESS_r*.json-format record here")
    p.add_argument("--trace", action="store_true")
    return p.parse_intermixed_args(argv)


def run_sweep(sf_dirs: list[str], artifact: str | None = None, trace: bool = False) -> int:
    from dataengineering_spark.catalog import TESTDATA_TABLES
    from dataengineering_spark.plans.queries import QUERIES
    from dataengineering_spark.session import get_spark
    from tests.conftest import assert_frames_match

    spark = get_spark("parity-sweep", shuffle_partitions=8)
    failures: list[tuple[str, str, str]] = []
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        n_ok = 0
        t0 = time.time()
        for name, spec in QUERIES.items():
            if spec.sql is None:
                continue
            try:
                assert_frames_match(spec.fn(spark, sf_dir), con.sql(spec.sql))
                n_ok += 1
            except Exception as exc:  # noqa: BLE001 — report, keep sweeping
                msg = str(exc).splitlines()[0][:200] or type(exc).__name__
                failures.append((sf_dir, name, msg))
                print(f"FAIL {sf_dir} {name}: {msg}", flush=True)
                if trace:
                    traceback.print_exc()
        print(f"{sf_dir}: {n_ok} ok, {len([f for f in failures if f[0] == sf_dir])} "
              f"failed in {time.time() - t0:.0f}s", flush=True)
        con.close()
    spark.stop()
    if artifact:
        import json

        failed_names = {n for _sf, n, _m in failures}
        rows = {}
        for name, spec in QUERIES.items():
            if spec.sql is None:
                continue
            ok = name not in failed_names
            rows[name] = {
                "rows_match": ok,
                "schema_match": ok,
                "hash_match": ok,
                "err": None
                if ok
                else "; ".join(m for _sf, n, m in failures if n == name)[:200],
            }
        with open(artifact, "w") as f:
            json.dump(rows, f, indent=1)
        print(f"wrote {artifact}: {len(rows)} rows, {len(failed_names)} red")
    if failures:
        print(f"TOTAL FAILURES: {len(failures)}")
        return 1
    print("ALL MATCH")
    return 0


if __name__ == "__main__":
    args = parse_args(sys.argv[1:])
    dirs = args.sf_dirs or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.1",
    ]
    raise SystemExit(run_sweep(dirs, args.artifact, args.trace))

"""Regenerate QUERIES.md — the flat index of every registry query.

Run from the repo root: python scripts/gen_query_index.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from dataengineering_spark.plans.queries import QUERIES

    lines = [
        "# QUERIES — registry index",
        "",
        f"{len(QUERIES)} oracle-backed queries; every entry is a",
        "(Spark callable, DuckDB oracle SQL) pair checked at sf0.01 by",
        "tests/test_oracle_parity.py. Listed in registry order; the",
        "external driver's 50-query window is ordered from the",
        "CORRECTNESS_r*.json ledgers (see plans/queries.py:_ordered_names).",
        "Tags map to SURVEY.md §2 ids or capability tiers.",
        "",
        "| # | Query | Tag |",
        "|---|---|---|",
    ]
    for i, name in enumerate(QUERIES, 1):
        lines.append(f"| {i} | `{name}` | {QUERIES[name].survey_ref} |")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()

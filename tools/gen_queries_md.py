"""Generate QUERIES.md — the full registry inventory — from code.

Usage: python tools/gen_queries_md.py [--out QUERIES.md]

Stale-proof documentation: the table is emitted in
``chyme_spark.registry.driver_order()`` (the order the driver's
correctness gate receives from ``__spark_entry__.queries()``), never
hand-edited. The first 50 rows ARE the current driver check window, in
order.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def render() -> tuple[str, int]:
    """(content, query count) for QUERIES.md — shared by the CLI writer
    and the freshness guard in tests/test_cli.py (a regenerated file
    that differs from the committed one means the registry, the oracle
    ledger or the CORRECTNESS history changed without re-running this
    tool)."""
    from chyme_spark.registry import driver_order, load_all

    reg = load_all()
    names, _ = driver_order()
    n_oracle = sum(1 for q in reg.values() if q.oracle)
    lines = [
        "# Query inventory",
        "",
        f"Generated by `python tools/gen_queries_md.py` from the registry — "
        f"do not hand-edit. **{len(reg)} queries** "
        f"({n_oracle} DuckDB-oracle hash-checked, {len(reg) - n_oracle} "
        "rows-only by design). Rows are in driver order: the first 50 are "
        "the current driver correctness window.",
        "",
        "| # | query | check | summary |",
        "|---|---|---|---|",
    ]
    for i, name in enumerate(names, 1):
        q = reg[name]
        kind = "oracle" if q.oracle else "rows-only"
        doc = (q.doc or "").strip().splitlines()[0] if q.doc else ""
        doc = doc.replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {kind} | {doc} |")
    return "\n".join(lines) + "\n", len(reg)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="QUERIES.md")
    args = ap.parse_args()

    out, n = render()
    with open(args.out, "w") as f:
        f.write(out)
    print(f"wrote {args.out}: {n} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

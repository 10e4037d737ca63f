"""Isolated steady-state probe for a set of registered queries.

Usage: python tools/probe_queries.py [--sf DIR] [--passes N] name [name...]

One block of bench.py's fault-isolated probe runner: noop sink (full
evaluation of every output column, query construction included), one
warm pass (JIT + parquet footers), then N timed passes per query with
the per-query MEDIAN reported — the number a round's OPTIMIZATION_r*.md
quotes as a before/after. A query that fails is reported under
``errors`` and the rest are still timed. ``codegen_compiles`` counts
the Janino compiles in every run after a query's warm one: a warm
query reuses its generated classes, so a nonzero count means Spark's
generated-code cache is thrashing. Run on an idle host: the
r14/r15 census-mover adjudications all traced inflated readings to
concurrent Spark JVMs.

Prints one JSON line:
    {"sf": ..., "passes": N, "queries": {name: median_sec}, "codegen_compiles": N
     [, "errors": ..., "revived": true]}
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from bench import Runner, probe_block
    from chyme_spark.registry import load_all
    from chyme_spark.session import codegen_compiles, get_spark

    registry = load_all()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        ap.error(f"not registered: {unknown}")
    runner = Runner(registry, functools.partial(get_spark, "probe_queries"))
    compiles = 0
    warmed: set[str] = set()

    def time_one(name: str) -> float:
        nonlocal compiles
        before = codegen_compiles(runner.spark)
        secs = runner.time(name, args.sf)
        if name in warmed:
            compiles += codegen_compiles(runner.spark) - before
        warmed.add(name)
        return secs

    blk = probe_block(args.names, time_one, runner.revive_if_dead, args.passes)
    blk["queries"] = blk.pop("queries_median")
    print(json.dumps({"sf": args.sf, "passes": args.passes, **blk, "codegen_compiles": compiles}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

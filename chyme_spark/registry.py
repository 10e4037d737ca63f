"""Central query registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2B registers itself here as a ``Query``:
a named Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) the equivalent DuckDB oracle SQL. The
driver's t2 gate runs both sides at sf0.01 and hash-compares.

Determinism contract baked into every registered query (SURVEY §2B):
  * alias every computed column, identically in Spark and SQL;
  * ROUND(..., n) every floating aggregate on both sides, summing over
    DECIMAL where order-of-addition could flip a rounding boundary;
  * cast timestamps to DATE or STRING in outputs;
  * include a unique key in every ORDER BY that feeds a LIMIT / rank.

The driver checks the FIRST 50 queries it is handed, so
``__spark_entry__`` hands them over in :func:`window_order`:
  1. forced, by name: every query with no row in
     ``tools/oracle_ledger.json``, with a ledger hash that differs from
     :func:`source_hash` (a ``--mark-changed`` sentinel never matches),
     or with no green row in the ``CORRECTNESS_r*.json`` history
     (:func:`last_green_rounds`);
  2. backfill, up to 50: the other oracle-checked queries, oldest ledger
     round first, then by name. Rows-only queries never backfill: their
     driver row proves only rows > 0, and pytest pins their contracts;
  3. the rest by name (d-ids, then x-ops).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame callable."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def source_hash(q: "Query") -> str:
    """Mechanical change-detector for the driver window.

    sha256 over the query fn's own source text plus its oracle SQL.
    tools/oracle_ledger.json records this per query at its last
    driver-green round; :func:`window_order` forces any query whose
    current hash differs (or that has no ledger row) into the window.

    Known approximation: edits to *shared helpers* a query fn calls do
    not flip its hash — when touching a shared helper, mark its callers
    CHANGED in the ledger by hand (tools/update_ledger.py
    --mark-changed) in the same commit.
    """
    import hashlib
    import inspect

    src = inspect.getsource(q.fn)
    return hashlib.sha256((src + "\x00" + (q.oracle or "")).encode()).hexdigest()


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "tools", "oracle_ledger.json")
WINDOW = 50


def last_green_rounds(root: str = REPO) -> dict[str, int]:
    """Query name -> latest round with a green driver row, from the
    ``CORRECTNESS_r{N}.json`` files in ``root``. Green is hash_match
    true, or (rows-only ops) err == no_oracle with rows > 0; a later red
    row demotes."""
    out: dict[str, int] = {}
    rounds = sorted(
        (int(m.group(1)), name)
        for name in os.listdir(root)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name))
    )
    for rnd, name in rounds:
        with open(os.path.join(root, name)) as f:
            rows = json.load(f)
        for q, row in rows.items():
            ok = (row.get("hash_match") is True) or (
                row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0
            )
            if ok:
                out[q] = rnd
            else:
                out.pop(q, None)
    return out


def window_order(
    registry: dict[str, Query], ledger: dict[str, dict], greens: dict[str, int]
) -> tuple[list[str], int]:
    """(every registry name in driver order, number forced) by the rule
    in the module docstring. More than ``WINDOW`` forced names still
    yields an order; the caller sees the overflow in the count."""
    forced, backfill, rest = [], [], []
    for name, q in sorted(registry.items()):
        rec = ledger.get(name)
        if rec is None or rec["hash"] != source_hash(q) or name not in greens:
            forced.append(name)
        elif q.oracle is not None:
            backfill.append((rec["round"], name))
        else:
            rest.append(name)
    backfill.sort()
    room = max(0, WINDOW - len(forced))
    head = forced + [n for _, n in backfill[:room]]
    rest = sorted(rest + [n for _, n in backfill[room:]])
    return head + rest, len(forced)


def driver_order() -> tuple[list[str], int]:
    """:func:`window_order` over the committed ledger and CORRECTNESS
    history."""
    with open(LEDGER) as f:
        ledger = json.load(f)
    return window_order(load_all(), ledger, last_green_rounds())


def load_all() -> dict[str, Query]:
    """Import every ops module so its @query decorators run; return
    REGISTRY in registration order."""
    from chyme_spark.ops import analytics, asof, binary, llm, pipeline, relational, scalar, streaming, subqueries, training, udfs, windows  # noqa: F401

    return REGISTRY

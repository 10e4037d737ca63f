"""Refresh tools/oracle_ledger.json — the per-query source-hash ledger
behind the driver window (``chyme_spark.registry.window_order``).

Run this at ROUND START, before editing any operator: at that moment the
working tree is byte-identical to the snapshot the driver last checked,
so recording the *current* source hash for every query with a green
CORRECTNESS row is sound.  During the round, any edit to a query fn or
its oracle flips the hash, and the window forces that query into the
driver's first 50 until a later driver round re-proves it.

Usage:
    python tools/update_ledger.py                 # refresh greens
    python tools/update_ledger.py --mark-changed a,b,c
        # force-sentinel queries whose code changed since their last
        # driver-green (e.g. edits to shared helpers the hash can't see,
        # or changes made before the ledger existed)

After writing, it prints the window's forced count (exit 1 when it
overflows the 50-query window).

A query is "driver-green in round N" per
``chyme_spark.registry.last_green_rounds``. Queries green at some round
keep that round number; --mark-changed replaces the hash with a
sentinel that can never match, so the query stays forced until the next
green refresh.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SENTINEL = "CHANGED-SINCE-LAST-GREEN"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mark-changed", default="", help="comma-separated query names to sentinel")
    ap.add_argument(
        "--refresh",
        default="",
        help="comma-separated query names whose hash should be re-stamped to the "
        "CURRENT source without a new driver green — ONLY for comment/docstring-"
        "only edits that cannot change results; say so in the commit message",
    )
    args = ap.parse_args()
    changed = {n for n in args.mark_changed.split(",") if n}
    refresh = {n for n in args.refresh.split(",") if n}

    from chyme_spark.registry import LEDGER, WINDOW, last_green_rounds, load_all, source_hash, window_order

    reg = load_all()
    unknown = changed - set(reg)
    if unknown:
        raise SystemExit(f"--mark-changed names not in registry: {sorted(unknown)}")

    old = json.load(open(LEDGER)) if os.path.exists(LEDGER) else {}
    greens = last_green_rounds()
    ledger: dict[str, dict] = {}
    for name, q in reg.items():
        cur = source_hash(q)
        if name in changed:
            rec = {"hash": SENTINEL, "round": greens.get(name, 0)}
        elif name in refresh:
            rec = {"hash": cur, "round": old.get(name, {}).get("round", greens.get(name, 0))}
        elif name in greens:
            prior = old.get(name)
            # re-stamp the hash ONLY on a NEW green (a CORRECTNESS round
            # later than the stamped one): mid-round re-runs must not
            # quietly bless edits the driver never saw
            if prior is None or greens[name] > prior.get("round", -1):
                rec = {"hash": cur, "round": greens[name]}
            else:
                rec = prior  # no new green since last stamp (incl. sentinel)
        elif name in old:
            rec = old[name]  # keep whatever we knew (likely sentinel/new)
        else:
            continue  # never green, not previously tracked: the window forces it
        ledger[name] = rec

    with open(LEDGER, "w") as f:
        json.dump(dict(sorted(ledger.items())), f, indent=1, sort_keys=True)
        f.write("\n")
    n_sent = sum(1 for r in ledger.values() if r["hash"] == SENTINEL)
    print(f"ledger: {len(ledger)} entries ({n_sent} sentinel), registry {len(reg)}")
    _, n_forced = window_order(reg, ledger, greens)
    print(f"driver window: {n_forced} forced of {WINDOW}")
    if n_forced > WINDOW:
        raise SystemExit("forced queries overflow the driver window: split the change")


if __name__ == "__main__":
    main()

"""One-off full-registry timing census (round 12).

The per-round bench rotation (``bench.rotation``) times one 15-name
slice of the non-headline registry per round, so a given query waits up
to 15 rounds between driver timings. This tool records a builder-side
timing for EVERY registry query in one pass instead: 1 warm + N timed noop-sink runs per
query (median), run by bench.py's fault-isolated probe runner, written to
a JSON artifact (tools/bench_census_r{N}.json).

This is NOT the driver bench and does not replace the rotation's
3-pass idle-host medians in BENCH_r{N}.json — it is a coarse census so
that every operator has a recent sf0.1 number between its rotation
slots.

Usage:
    python tools/bench_census.py [--sf DIR] [--passes 2] [--out FILE]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def previous_census(tooldir: str, sf_dir: str, before_round: int = 0) -> str | None:
    """Path of the latest earlier census taken at the same scale factor
    (its ``sf_dir`` equals ``sf_dir``), or None. A census at another
    scale is no yardstick: an sf0.001 sweep judged against sf0.1
    medians flags nothing and clears nothing."""
    for n in range(200, 11, -1):
        cand = os.path.join(tooldir, f"bench_census_r{n}.json")
        if not os.path.exists(cand) or (before_round and n >= before_round):
            continue
        with open(cand) as fh:
            if json.load(fh).get("sf_dir") == sf_dir:
                return cand
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", default="")
    ap.add_argument(
        "--round",
        type=int,
        default=0,
        help="round number for the artifact name (required unless --out is "
        "given) — inferring it from directory contents misattributed a "
        "same-round retry to a round that hadn't happened (ADVICE r14)",
    )
    ap.add_argument(
        "--force",
        action="store_true",
        help="overwrite an existing artifact (refused by default)",
    )
    args = ap.parse_args()
    if not args.out and not args.round:
        ap.error("--round is required when --out is not given")

    from bench import Runner
    from chyme_spark.registry import load_all
    from chyme_spark.session import get_spark

    registry = load_all()
    runner = Runner(registry, functools.partial(get_spark, "chyme_census"))

    medians: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(sorted(registry)):
        # one one-member block per query: warm + N timed passes, and a
        # failure costs this query only (the runner revives the session)
        blk = runner.block([name], args.sf, passes=args.passes)
        medians.update(blk["queries_median"])
        errors.update(blk.get("errors", {}))
        print(
            f"[{i + 1}/{len(registry)}] {name}: "
            f"{medians.get(name, errors.get(name))}",
            flush=True,
        )

    tooldir = os.path.dirname(os.path.abspath(__file__))

    # Mover adjudication (VERDICT r14 "what's wrong" #2): two rounds
    # running, the sweep's per-query medians flagged >2x "movers" on
    # untouched code that every idle-host re-measure cleared — the
    # sequential 250-query sweep itself is the noise source (session
    # memory churn, GC debt from neighbors). Fix the instrument: any
    # query whose sweep median is >2x its previous-census median gets an
    # END-OF-RUN 3-pass re-measure (the sweep's churn settled), and THAT
    # median lands in queries_median; the adjudication block records
    # both numbers so the artifact shows its work.
    adjudication: dict[str, dict[str, float]] = {}
    prev_path = previous_census(tooldir, args.sf, args.round)
    if prev_path:
        prev = json.load(open(prev_path))["queries_median"]
        movers = sorted(
            name
            for name, med in medians.items()
            if name in prev
            and med >= 0.3
            and prev[name] > 0
            and med / prev[name] > 2.0
        )
        for name in movers:
            # re-warm after the sweep, then a 3-pass median
            blk = runner.block([name], args.sf, passes=3)
            if name not in blk["queries_median"]:
                # the suspect sweep median stays in queries_median (a
                # number beats a hole), but the artifact must SAY it is
                # unadjudicated — otherwise next round's census uses it
                # as prev_census and the >2x rule can never re-fire on
                # this query
                err = blk["errors"][name]
                adjudication[name] = {
                    "prev_census": prev[name],
                    "sweep_median": medians[name],
                    "isolated_median": None,
                    "note": f"re-measure failed: {err.split(':', 1)[0]}",
                }
                errors[name] = f"adjudication: {err}"[:300]
                continue
            adjudication[name] = {
                "prev_census": prev[name],
                "sweep_median": medians[name],
                "isolated_median": blk["queries_median"][name],
            }
            medians[name] = blk["queries_median"][name]
            print(
                f"[adjudicate] {name}: sweep {adjudication[name]['sweep_median']}"
                f" vs prev {prev[name]} -> isolated {medians[name]}",
                flush=True,
            )

    out = {
        "sf_dir": args.sf,
        "passes": args.passes,
        "n_queries": len(registry),
        "total_median_sec": round(sum(medians.values()), 3),
        "queries_median": dict(sorted(medians.items())),
    }
    if adjudication:
        out["mover_adjudication"] = {
            "vs": os.path.basename(prev_path),
            "rule": "sweep median > 2x prev census and >= 0.3s -> 3-pass end-of-run re-measure replaces it",
            "movers": adjudication,
        }
    if errors:
        out["errors"] = errors
    if args.out:
        path = args.out
    else:
        path = os.path.join(tooldir, f"bench_census_r{args.round}.json")
    if os.path.exists(path) and not args.force:
        raise SystemExit(
            f"refusing to overwrite {path} — pass --force for a deliberate "
            "re-run of the same round (ADVICE r14)"
        )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(f"census: {len(medians)} timed, {len(errors)} errors -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

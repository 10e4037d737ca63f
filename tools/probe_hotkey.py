"""Hot-key vs control skew probe (VERDICT r15 #1).

For each named query, runs noop-sink timed passes against a HOT fixture
(one deliberately hot window key, see make_hotkey_fixture.py) and its
volume-matched CONTROL fixture, and reports the per-query medians plus
the hot/ctl ratio. A ratio well above 1 on identical row counts and
bytes means the hot key serializes work (straggler); ~1 means the shape
absorbs the skew at this scale. Timings use bench.py's ``Runner.time``
(query construction + noop sink).

Usage:
    python tools/probe_hotkey.py --hot /tmp/chyme_hot --ctl /tmp/chyme_ctl \
        x_segment_dedup_scrub x_boilerplate_scrub ...

Prints one JSON line.
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
    ap.add_argument("--hot", required=True)
    ap.add_argument("--ctl", required=True)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from bench import Runner, median
    from chyme_spark.registry import load_all
    from chyme_spark.session import get_spark

    registry = load_all()
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        ap.error(f"not registered: {unknown}")
    runner = Runner(registry, functools.partial(get_spark, "probe_hotkey"))

    out: dict[str, dict] = {}
    for name in args.names:
        for d in (args.ctl, args.hot):  # warm passes
            runner.time(name, d)
        ctl_ts = []
        hot_ts = []
        for _ in range(args.passes):  # interleave to share host weather
            ctl_ts.append(runner.time(name, args.ctl))
            hot_ts.append(runner.time(name, args.hot))
        c, h = median(ctl_ts), median(hot_ts)
        out[name] = {
            "ctl_sec": round(c, 3),
            "hot_sec": round(h, 3),
            "ratio": round(h / c, 2) if c else None,
        }
    print(json.dumps({
        "hot": args.hot, "ctl": args.ctl, "passes": args.passes,
        "queries": out,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Capture the pre-start streaming physical plan for a representative
stateful op (d40_stream_watermark's aggregation), showing the state
Exchange's partition count under the current streaming-partition policy.

The registered fn() drains the stream internally and returns the batch
readback, so its explain() cannot show the state layout; this rebuilds
the same streaming DataFrame and explains it before start. Usage:

    python tools/capture_stream_plan.py [--sf /root/testdata/sf0.1] [--out FILE]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from chyme_spark.ops import streaming as st
    from chyme_spark.session import get_spark

    spark = get_spark("capture_stream_plan")
    ev = st._events_stream(spark, args.sf)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    buf = io.StringIO()
    with st._scaled_state_conf(spark, args.sf), redirect_stdout(buf):
        agg.explain("formatted")
    text = (
        f"# d40_stream_watermark streaming aggregation, pre-start plan\n"
        f"# sf={args.sf}  -> _state_partitions={st._state_partitions(args.sf)}\n\n"
        + buf.getvalue()
    )
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

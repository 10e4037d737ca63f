"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All queries live in :mod:`chyme_spark.registry`; each ops module
registers its operators (SURVEY.md §2B IDs in the names) with the
DuckDB oracle SQL alongside the Spark implementation.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from chyme_spark.registry import driver_order, load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session confs the engine depends on.

    The driver owns the SparkSession; nanosAsLong is a static conf that
    must be set before the first parquet read of events, so set it here
    defensively (it works when applied before that table is touched).
    """
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # naive parquet timestamps must read as LTZ (UTC), not NTZ —
        # epoch functions reject NTZ and the DuckDB oracle is naive-as-UTC
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — driver may pin some confs
            pass
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §2B D-50) on /root/testdata/sf0.001."""
    _ensure_conf(spark)
    registry = load_all()
    return registry["d50_pipeline_flagship"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in the
    driver order of :func:`chyme_spark.registry.window_order` (the
    first 50 are the correctness window)."""
    registry = load_all()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(_ensure_conf(spark), sf_dir)

        return run

    return {name: wrap(registry[name].fn) for name in driver_order()[0]}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle for each SQL-expressible query (others rows-only),
    in the same driver order as :func:`queries`."""
    registry = load_all()
    return {n: registry[n].oracle for n in driver_order()[0] if registry[n].oracle is not None}

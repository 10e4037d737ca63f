"""Session defaults that decide warm-query cost."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

from chyme_spark.session import codegen_compiles


def test_warm_plans_reuse_their_generated_classes(spark):
    """More than 100 distinct whole-stage plans (Spark's default
    generated-code cache holds 100 classes) run a second time without one
    new compile: every class the first round compiled is still cached."""

    def stage(k: int) -> DataFrame:
        # a distinct inlined literal makes a distinct generated class
        return spark.range(2, numPartitions=1).selectExpr(f"id * {7919 + k} AS x")

    # a union runs each branch as its own whole-stage subtree: 8 jobs, 128 plans
    jobs = [functools.reduce(DataFrame.union, (stage(16 * j + b) for b in range(16))) for j in range(8)]
    for df in jobs:
        df.collect()
    before = codegen_compiles(spark)
    for df in jobs:
        df.collect()
    assert codegen_compiles(spark) - before == 0

"""Tasker — the reference's pop -> template -> enqueue loop (ref
``internal/tasker/service.go:36-132``) collapsed into one batch plan.

The Redis ``SPopN`` destructive pop + SQS enqueue + task-hash ledger
dance (at-least-once with manual re-add on failure, ref
``internal/tasker/service.go:44-51``) becomes: anti-join the catalog
against the processed ledger, fan out through the templates, and append
to the tasks table — exactly-once by construction, because the write
either commits or the whole deterministic plan re-runs.

Scale: the ledger's distinct task hashes are broadcast into the
anti-join, so the catalog side never shuffles. The template fan-out is
narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chyme_spark.templates import DEFAULT_TEMPLATES, Template, expand

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("task_hash", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("completed_at", T.TimestampType(), True),
    ]
)


def empty_ledger(spark) -> DataFrame:
    return spark.createDataFrame([], LEDGER_SCHEMA)


def create_tasks(
    catalog: DataFrame,
    ledger: DataFrame | None = None,
    templates: tuple[Template, ...] = DEFAULT_TEMPLATES,
) -> DataFrame:
    """catalog -> new (not-yet-processed) task rows.

    Idempotence parity: re-running with an up-to-date ledger yields zero
    rows (ref task-set dedup ``internal/core/task.go:157-179``).
    """
    tasks = expand(catalog, templates)
    if ledger is None:
        return tasks
    seen = F.broadcast(ledger.select("task_hash").distinct())
    return tasks.join(seen, "task_hash", "left_anti")

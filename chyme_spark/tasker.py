"""Tasker — the reference's pop -> template -> enqueue loop (ref
``internal/tasker/service.go:36-132``) collapsed into one batch plan.

The Redis ``SPopN`` destructive pop + SQS enqueue + task-hash ledger
dance (at-least-once with manual re-add on failure, ref
``internal/tasker/service.go:44-51``) becomes: fan the catalog out
through the templates, anti-join the task hashes already in the tasks
table, and append the rest to it — exactly-once by construction,
because the write either commits or the whole deterministic plan
re-runs. The tasks table is the only record the tasker reads: the
worker's ledger and quarantine hold only hashes of rows in it, so a
task that is pending, completed or quarantined is never created twice.

Scale: the template fan-out is narrow; the anti-join is the one
shuffle (or broadcast, when the tasks table is small), planned by Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from chyme_spark.templates import DEFAULT_TEMPLATES, Template, expand


def create_tasks(
    catalog: DataFrame,
    existing: DataFrame | None = None,
    templates: tuple[Template, ...] = DEFAULT_TEMPLATES,
) -> DataFrame:
    """catalog -> task rows whose ``task_hash`` is not in ``existing``.

    Idempotence parity: re-running against the tasks already appended
    yields zero rows (ref task-set dedup ``internal/core/task.go:157-179``).
    """
    tasks = expand(catalog, templates)
    if existing is None:
        return tasks
    return tasks.join(existing.select("task_hash"), "task_hash", "left_anti")

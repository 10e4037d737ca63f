"""D-50 flagship: chyme's whole pipeline as one declarative query.

Reproduces ingest -> tasker end-to-end (ref
``internal/ingest/service.go:42-119`` composed with
``internal/tasker/service.go:36-66``): a synthetic resource catalog is
built from ``documents``, the signature extension filter is applied,
URLs are dedup'd, the MOV/MP4 templates fan out through the tasker's
own rule (``create_tasks`` with no tasks recorded yet, so nothing is
anti-joined), and the result is accounted per template.

Every stage is narrow except the dedup and final count — the plan holds
at any scale: the filter is pushed into the scan, the fan-out never
shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chyme_spark.catalog import ingest
from chyme_spark.ops.relational import _URL_SQL, synthetic_urls
from chyme_spark.registry import query
from chyme_spark.tasker import create_tasks


def flagship(spark: SparkSession, sf: str) -> DataFrame:
    catalog = ingest(synthetic_urls(spark, sf), "ext/mov/mp4")
    tasks = create_tasks(catalog)
    return tasks.groupBy("template").agg(
        F.count("*").alias("n_tasks"),
        F.countDistinct("input_url").alias("n_inputs"),
        F.min("input_url").alias("first_input"),
        F.max("input_url").alias("last_input"),
    )


query(
    "d50_pipeline_flagship",
    oracle=f"""
    WITH catalog AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    filtered AS (
        SELECT DISTINCT url FROM catalog
        WHERE regexp_matches(lower(url), '^(.+)\\.(mov|mp4)$')
    ),
    tasks AS (
        SELECT url,
               lower(regexp_extract(url, '\\.([A-Za-z0-9]+)$', 1)) AS template
        FROM filtered
    )
    SELECT template, COUNT(*) AS n_tasks, COUNT(DISTINCT url) AS n_inputs,
           min(url) AS first_input, max(url) AS last_input
    FROM tasks GROUP BY template
    """,
    doc="D-50 chyme-as-a-query: ingest + ext-filter + dedup + tasker template fan-out",
)(flagship)

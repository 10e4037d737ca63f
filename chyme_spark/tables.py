"""The pipeline's four parquet tables: their schemas and their one reader.

``catalog`` (ingest) -> ``tasks`` (tasker) -> ``ledger`` + ``quarantine``
(worker). Each schema is exactly what the writing verb produces, so a
reader passes it instead of inferring one: ``spark.read.parquet(p)``
runs a Spark job over the table's footers just to define the frame;
``spark.read.schema(S).parquet(p)`` runs none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _strings(*names: str) -> list[T.StructField]:
    return [T.StructField(n, T.StringType()) for n in names]


SCHEMAS: dict[str, T.StructType] = {
    "catalog": T.StructType(
        _strings("url", "scheme", "bucket", "key", "ext")
        + [T.StructField("phony", T.BooleanType())]
        + _strings("resource_hash")
    ),
    "tasks": T.StructType(
        _strings("task_hash", "input_url", "output_url", "metadata_url", "template", "executor")
        + [
            T.StructField("config", T.MapType(T.StringType(), T.StringType())),
            T.StructField("timeout_s", T.LongType()),
            T.StructField("version", T.StringType()),
            T.StructField("phony", T.BooleanType()),
        ]
    ),
    "ledger": T.StructType(
        [
            T.StructField("task_hash", T.StringType(), False),
            T.StructField("stage", T.StringType(), False),
            T.StructField("completed_at", T.TimestampType(), True),
        ]
    ),
    "quarantine": T.StructType(
        _strings("task_hash", "error")
        + [T.StructField("failed_at", T.TimestampType())]
        + _strings("failed_stage")
    ),
}


def exists(spark, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop filesystem Spark
    reads it with (session conf included, so ``s3a://`` credentials
    apply): one driver call, no Spark job."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jpath.getFileSystem(conf).exists(jpath)


def read(spark, kind: str, path: str) -> DataFrame | None:
    """The ``kind`` table at ``path`` with its known schema, or None when
    nothing has been written there yet. Runs no Spark job. A table that
    exists but cannot be read fails the job that reads it — it is never
    taken for an empty one."""
    if not exists(spark, path):
        return None
    return spark.read.schema(SCHEMAS[kind]).parquet(path)

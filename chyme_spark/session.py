"""SparkSession builder tuned for the engine.

Local test posture is ``local[N]`` (single JVM), but every config here is
chosen to also be the right default on a 1000-executor cluster reading
100 TB: AQE on (runtime re-plan, partition coalescing, skew-join
splitting), Arrow on (all pandas-UDF paths are vectorized), UTC session
timezone (stable timestamp semantics vs the DuckDB oracle and across
clusters), shuffle partitions sized to the actual parallelism instead of
the legacy 200 default, and a generated-code cache
(``spark.sql.codegen.cache.maxEntries``) sized to the engine's working
set of whole-stage classes, so a warm query reuses its compiled code
instead of recompiling it.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_DEFAULTS: dict[str, str] = {
    # Adaptive query execution: runtime join-strategy switch (sort-merge ->
    # broadcast), post-shuffle partition coalescing, skew-join splitting.
    # These are exactly the knobs that keep a 100 TB shuffle healthy.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for every pandas_udf / mapInPandas / applyInPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics; matches DuckDB's UTC-naive reads.
    "spark.sql.session.timeZone": "UTC",
    # Parquet vectorized reader (columnar batches into codegen).
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Don't let tiny local runs produce one giant partition per file.
    "spark.sql.files.maxPartitionBytes": "128m",
    # The synthetic events table stores TIMESTAMP(NANOS) parquet, which the
    # vectorized reader rejects; read the raw int64 and convert in
    # load_table (integer DIV — double division would corrupt 1e18 nanos).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (no-timezone) parquet timestamps read as TIMESTAMP_LTZ, not
    # TIMESTAMP_NTZ: with the UTC session timezone this is byte-identical
    # to DuckDB's naive-as-UTC semantics, and it keeps epoch functions
    # (unix_micros & friends, which reject NTZ) working on every table.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Generated-code cache (static: read once, when the JVM first
    # generates code). Spark keeps 100 compiled classes by default, but
    # the engine's working set is far larger: one pass of all 255
    # registered queries at sf0.001 compiles ~2,900 distinct classes with
    # the cache unbounded (4,153 at 100 entries, because evicted classes
    # compile again), and the 10 benchmark queries alone need ~200, so at
    # 100 every warm pass of them recompiled 150-170. 4096 is the next
    # power of two above 2,900; that pass then holds ~73 MB more heap
    # after GC (227 -> 300 MB) and ~21 MB more metaspace (221 -> 242 MB).
    # The cache only decides whether an identical generated class is
    # reused, so no result depends on it.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Quiet the UI for headless runs.
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def _driver_memory() -> str | None:
    """Local-mode heap sizing: the JVM default is 1g, which starves
    local[32] (32 concurrent tasks sharing one tiny unified-memory pool
    — the r9 20x scale probe OOM'd the whole context on exploded
    grams). A real deployment sizes executor memory to the host; do the
    same here: a quarter of available memory, clamped to [2g, 16g].
    "Available" is min(MemTotal, cgroup limit): inside a memory-limited
    container /proc/meminfo reports the HOST total, so sizing from it
    alone hands the JVM an -Xmx above the cgroup ceiling and the kernel
    OOM-kills the process — a hard death, where the 1g JVM default at
    least kept failures inside Spark (r10 review finding). A cgroup
    limit under ~3 GiB is too small for the [2g,...] floor plus Python
    overhead, so there the conf is left unset (JVM 1g default). Env
    SPARK_GRAFT_DRIVER_MEM overrides; unreadable /proc/meminfo leaves
    the conf unset."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    limit = _memory_limit_bytes()
    if limit is None:
        return None
    gib = limit // (1024**3)
    if gib < 3:  # floor(2g) + PySpark driver overhead would exceed the cgroup
        return None
    return f"{max(2, min(16, gib // 4))}g"


def _memory_limit_bytes() -> int | None:
    """min(/proc/meminfo MemTotal, cgroup v2/v1 memory limit), bytes.

    cgroup files report "max" (v2) or a huge sentinel (v1) when
    unlimited; both are ignored in favor of MemTotal."""
    total = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total = int(line.split()[1]) * 1024  # kB -> bytes
                    break
    except OSError:
        pass
    if total is None:
        return None
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            raw = open(path).read().strip()
        except OSError:
            continue
        if raw.isdigit():
            cg = int(raw)
            if 0 < cg < total:
                return cg
        break  # v2 file present ("max") => don't consult the v1 path
    return total


def default_parallelism() -> int:
    """Shuffle-partition count: the env override, else the local core count.

    On a real cluster this should be ~2-3x total executor cores (set via
    ``SPARK_GRAFT_CPUS`` / spark-submit conf); the principle is the same:
    size the shuffle to the parallelism actually available, never the
    legacy 200.
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "chyme_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``) so the same entry point works under the driver harness
    and under spark-submit on a cluster (where master is pre-set and this
    argument is left None and ignored by getOrCreate).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(default_parallelism())
    mem = _driver_memory()
    if mem:
        conf["spark.driver.memory"] = mem
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if extra_conf:
        # getOrCreate applies configs only at FIRST creation — when the
        # session already exists, thread filesystem conf (fs.*, e.g.
        # s3_credentials_conf output) into the live hadoopConfiguration
        # so late credentials still take effect; non-fs conf cannot be
        # changed post-hoc and is reported instead of silently dropped
        # (round-6 review)
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in extra_conf.items():
            if k.startswith(("fs.", "spark.hadoop.fs.")):
                hconf.set(k.removeprefix("spark.hadoop."), v)
            elif spark.conf.get(k, None) != v:
                try:
                    spark.conf.set(k, v)  # runtime-mutable SQL confs apply fine
                except Exception:  # noqa: BLE001 — static conf on a live session
                    print(
                        f"warning: conf {k!r} ignored — session already exists "
                        "(static conf applies only at first get_spark)",
                        file=sys.stderr,
                    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles of generated code so far in this JVM (every
    session in it shares one generated-code cache). A count that still
    grows while the same warm queries repeat means the cache is
    thrashing."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def s3_credentials_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    session_token: str | None = None,
    endpoint: str | None = None,
    role_arn: str | None = None,
    session_duration_s: int | None = None,
) -> dict[str, str]:
    """Spark-side credential bootstrap for s3a:// reads/writes — pass the
    result as ``get_spark(extra_conf=...)``.

    R40 parity (ref Vault->STS temp creds ``cmd/util.go:21-57``): the
    reference fetched short-lived STS credentials at boot; on Spark the
    same flow is hadoop-aws's AssumedRoleCredentialProvider (give
    ``role_arn`` + TTL), or static/temporary keys threaded straight into
    ``fs.s3a.*`` conf. Executor-side pyarrow transfers take the matching
    dict via :func:`chyme_spark.runner.loaders_with_credentials`.
    """
    conf: dict[str, str] = {}
    base = "spark.hadoop.fs.s3a"
    if access_key:
        conf[f"{base}.access.key"] = access_key
    if secret_key:
        conf[f"{base}.secret.key"] = secret_key
    if session_token:
        conf[f"{base}.session.token"] = session_token
        conf[f"{base}.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
        )
    if endpoint:
        conf[f"{base}.endpoint"] = endpoint
        conf[f"{base}.path.style.access"] = "true"
    if role_arn:
        conf[f"{base}.assumed.role.arn"] = role_arn
        conf[f"{base}.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.auth.AssumedRoleCredentialProvider"
        )
        if session_duration_s:
            conf[f"{base}.assumed.role.session.duration"] = f"{session_duration_s}s"
    return conf


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table (see TESTDATA.md) as a DataFrame.

    ``events.ts`` has arrived as int64 nanoseconds in some testdata
    generations (see the nanosAsLong conf) and as TIMESTAMP(MICROS) in
    others; the int64 case is converted to a TIMESTAMP at microsecond
    precision with integer division, which is exact — the generator
    emits whole microseconds. Timestamp columns that infer as NTZ are
    cast to LTZ (exact under the UTC session timezone).

    The resolved DataFrame is memoized per (session, sf_dir, table) on
    the session object: ``spark.read.parquet`` does driver-side file
    listing + footer schema inference on EVERY call, and a bench/driver
    run loads the same ten tables across ~50 queries — sharing the
    resolved relation removes that repeated analysis cost (round-2
    cold-path regression work). DataFrames are immutable plans, so
    handing the same object to every caller is safe; the cache dies with
    the session.
    """
    cache = getattr(spark, "_chyme_table_cache", None)
    if cache is None:
        cache = {}
        spark._chyme_table_cache = cache
    key = (sf_dir, name)
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # If NTZ inference was pinned on in a session we don't own, naive
        # parquet timestamps arrive as TIMESTAMP_NTZ; cast back to LTZ —
        # exact under the UTC session timezone, and required by the epoch
        # functions (unix_micros rejects NTZ).
        for col, dtype in df.dtypes:
            if dtype == "timestamp_ntz":
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        cache[key] = df
    return df


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

"""Event-time operators: sessionization, tumbling/sliding windows, and
Structured Streaming with watermarks + stateful dedup.

SURVEY.md §2B D-37..D-41. These generalize the reference's queue-drain
loop (ref ``pkg/aws/sqs.go:134-162`` DequeueAll -> ``Trigger.AvailableNow``),
its 30 s poll tick (ref ``cmd/tasker.go:85-99`` -> processing-time
triggers), its visibility-timeout redelivery semantics (ref
``internal/core/task.go:90-113`` -> watermarked stateful dedup), and its
``.chstate.json`` resume checkpoint (ref
``internal/worker/persistance.go:25-69`` -> checkpointLocation).

Scale posture: event-time windows and sessionization shuffle once on
the partition key (user/window); watermarks bound streaming state so a
100 TB/day stream holds only the watermark horizon in memory; file
sources use ``maxFilesPerTrigger`` for backpressure in production (the
reference's ShouldCreate stub, ref ``internal/tasker/service.go:68-83``).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from chyme_spark.ops.common import PARTITION_BYTES, dec, money, table_bytes, ts_str
from chyme_spark.registry import query
from chyme_spark.session import load_table

_SESSION_GAP_S = 30 * 60

_mem_counter = itertools.count()


def _q4(v: float) -> int:
    """Python-side mirror of the batch twin's CAST(value AS DECIMAL(18,4)).

    Spark's double->decimal cast goes through the shortest decimal
    rendering (BigDecimal.valueOf), which is what repr() gives, then
    HALF_UP at scale 4 — so a stateful operator accumulating these
    integer ten-thousandths sees the SAME total the batch DECIMAL sum
    sees (integer-state discipline; no float drift across micro-batches).
    """
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(v)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP) * 10000
    )


def _money_q4(total_q4: int) -> float:
    """ROUND(sum, 2) HALF_UP on a non-negative ten-thousandths total."""
    return ((total_q4 + 50) // 100) / 100.0


@query(
    "d37_sessionization",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *, CAST(SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS session_value
    FROM sessions GROUP BY user_id, session_seq
    """,
    doc="D-37 batch sessionization: gap>30min starts a session (ref stage machine analog internal/worker/service.go:131-183)",
)
def d37_sessionization(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > _SESSION_GAP_S * 1_000_000), 1).otherwise(0),
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        flagged.withColumn("session_seq", F.sum("new_session").over(run))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            money(F.sum(dec("value"))).alias("session_value"),
        )
    )


@query(
    "d38_tumbling_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="D-38 tumbling event-time window, batch twin of the streaming D-40",
)
def d38_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            money(F.sum(dec("value"))).alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "d39_sliding_window",
    oracle="""
    WITH slid AS (
        SELECT event_type,
               unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
                   AS win_start
        FROM events)
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n_events
    FROM slid GROUP BY 1, 2
    """,
    doc="D-39 sliding window (1h every 30m): every event lands in exactly 2 windows",
)
def d39_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


@query(
    "x_session_window",
    # session_window(ts, gap) merges events whose windows overlap — for
    # point events that is exactly gap-based sessionization, so the
    # oracle is the same flag+running-sum construction as D-37.
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_seq
    """,
    doc="built-in session_window(ts, gap): engine-native sessionization; equals the manual D-37 construction",
)
def x_session_window(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


@query(
    "x_time_rollup",
    oracle="""
    SELECT 'hour' AS resolution,
           strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day' AS resolution,
           strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 2, 3
    """,
    doc="hypertable-style multi-resolution time rollup (hour + day continuous aggregates in one result); at scale each resolution is an independently materialized/partitioned table",
)
def x_time_rollup(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")

    def level(unit: str) -> DataFrame:
        return (
            ev.groupBy(F.date_trunc(unit, "ts").alias("b"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                money(F.sum(dec("value"))).alias("total_value"),
            )
            .select(
                F.lit(unit).alias("resolution"),
                F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                "event_type",
                "n_events",
                "total_value",
            )
        )

    return level("hour").unionByName(level("day"))


# ---------------------------------------------------------------------------
# Structured Streaming (rows-only: state/emission timing is engine-specific)
# ---------------------------------------------------------------------------

# (src dir, raw footer schema) per sf — the generator has shipped
# events.ts as TIMESTAMP(NANOS)-read-as-int64 in some rounds and plain
# TIMESTAMP(MICROS) in others, so the stream's required explicit schema
# must come from the actual parquet footer, not a frozen literal: a
# frozen int64 schema over a micros file reads micros as "nanos",
# compresses event time 1000x, and every watermark window silently
# stays open (zero rows emitted — round-4 regression).
_stream_dirs: dict[str, tuple[str, T.StructType]] = {}


def _events_stream(spark: SparkSession, sf: str) -> DataFrame:
    # FileStreamSource requires a directory; the synthetic table is a
    # single parquet file, so stage a symlink into a temp source dir.
    cached = _stream_dirs.get(sf)
    if cached is None:
        src = tempfile.mkdtemp(prefix="chyme_stream_src_")
        os.symlink(os.path.abspath(f"{sf}/events.parquet"), f"{src}/events.parquet")
        raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
        cached = (src, raw_schema)
        _stream_dirs[sf] = cached
    src, raw_schema = cached
    raw = spark.readStream.schema(raw_schema).parquet(src)
    ts_type = raw_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # int64 nanos -> micros timestamp (integer division is exact:
        # the generator emits whole microseconds)
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # naive micros -> LTZ; exact under the UTC session timezone
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _state_partitions(sf: str) -> int:
    """Streaming state-partition count derived from INPUT SIZE, not a
    constant (spark_optimization_guide §2: make partitioning
    scale-adaptive rather than a constant tuned for either local mode
    or the cluster).

    A stateful streaming query spins up one state store per shuffle
    partition per stateful operator per micro-batch; the r14 A/B pinned
    that spin-up as the whole cost of the fixture-scale heavies
    (x_stream_stream_join 10.6 s @32 partitions / 3.4 s @8 / 2.4 s @4 on
    fresh checkpoints — identical emitted rows). A fixed 32 is the wrong
    constant in BOTH regimes: at 2 MB of events it pays 32 store
    spin-ups to shuffle a few thousand rows, and at 100 TB/day it would
    cap state parallelism far below the cluster. Derive instead:
    one state partition per 64 MiB of source bytes (well under the
    guide's 100 MB-1 GB post-shuffle advisory, so per-store state stays
    memory-light), floored at 4 (keeps the Python stateful per-key loops
    parallel at fixture scale — the A/B's fastest measured point) and
    capped at the session's shuffle parallelism (on a real cluster
    SPARK_GRAFT_CPUS / conf carries 2-3x total executor cores, so a
    100 TB stream saturates the cluster exactly as before). Results are
    partition-count-invariant (keyed state, watermark eviction, and join
    semantics do not depend on the shuffle layout); the oracles and the
    stream==batch pytest contracts pin that.
    """
    from chyme_spark.session import default_parallelism

    nbytes = table_bytes(sf, "events")
    if nbytes is None:
        return default_parallelism()
    return max(4, min(default_parallelism(), -(-nbytes // PARTITION_BYTES)))


@contextlib.contextmanager
def _scaled_state_conf(spark: SparkSession, sf: str):
    """Pin spark.sql.shuffle.partitions to the input-derived state
    partition count for the duration of one streaming query (the count
    is captured into the stream's state layout at planning time), then
    restore the session value so batch queries keep the session-wide
    parallelism."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(_state_partitions(sf)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _run_to_memory(stream_df: DataFrame, output_mode: str, sf: str | None = None) -> DataFrame:
    """Drain a bounded stream into a memory sink and return its contents."""
    name = f"chyme_stream_sink_{next(_mem_counter)}"
    ckpt = tempfile.mkdtemp(prefix="chyme_ckpt_")
    ctx = (
        _scaled_state_conf(stream_df.sparkSession, sf)
        if sf is not None
        else contextlib.nullcontext()
    )
    with ctx:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


@query(
    "d40_stream_watermark",
    # Graduated rows-only -> full oracle (r10): append-mode emission is
    # watermark-timing-dependent in general, but under AvailableNow on
    # the single-file source the timing is FIXED — all data lands in
    # micro-batch 1, the watermark then advances once to
    # floor_ms(max(ts)) - 10min (Spark tracks event-time stats in whole
    # milliseconds), and the final no-data batch closes exactly the
    # windows whose end <= that watermark. Window ends are whole hours
    # while the fixture's max(ts) carries microsecond jitter, so the
    # <=-vs-< eviction boundary is unobservable on this data model.
    # Pinned empirically at sf0.001 (867 of 868 windows emitted; only
    # the window holding max(ts) withheld) before the oracle was added.
    oracle="""
    WITH wm AS (SELECT epoch_ms(max(ts)) - 600000 AS wm_ms FROM events),
         b AS (
           SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
                  COUNT(*) AS n_events
           FROM events GROUP BY 1, 2
         )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type, n_events
    FROM b, wm
    WHERE epoch_ms(ws + INTERVAL 1 HOUR) <= wm.wm_ms
    """,
    doc="D-40 streaming tumbling count with 10-min watermark; sink rows are the closed windows (ref queue drain pkg/aws/sqs.go:134-162)",
)
def d40_stream_watermark(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events_stream(spark, sf)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    return _run_to_memory(agg, "append", sf)


@query(
    "x_stream_static_join",
    # Graduated rows-only -> full oracle (r10): under AvailableNow the
    # complete-mode sink holds the FINAL aggregate after all input is
    # consumed, which equals the batch join+groupBy no matter how the
    # source was micro-batched — same determinism argument as
    # x_stream_tws_counts (final state is boundary-invariant). The
    # stream==batch pytest (tests/test_streaming.py) remains as the
    # second, Spark-side witness.
    oracle="""
    SELECT c.c_mktsegment AS c_mktsegment, COUNT(*) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="stream-static enrichment join: streaming events x broadcast customer dim, aggregated per segment (the production enrichment pattern)",
)
def x_stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events_stream(spark, sf)
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    # the static side is customer-derived (scales with the fact): no
    # forced broadcast — Spark picks broadcast per micro-batch while the
    # 2-column projection fits, and falls back to a keyed shuffle of the
    # static side beyond that instead of OOMing a pinned build
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(F.count("*").alias("n_events"))
    return _run_to_memory(agg, "complete", sf)


@query(
    "x_stream_stream_join",
    # Graduated rows-only -> full oracle (r10): an INNER stream-stream
    # join's append output is exactly the set of matched pairs, and a
    # watermark can only drop input that arrives in a LATER micro-batch
    # than the watermark that excludes it. The fixture source is a
    # single parquet file staged into the source dir (_events_stream),
    # so AvailableNow reads it as ONE batch (no maxFilesPerTrigger set)
    # and nothing is ever late: the emitted set equals the full batch
    # interval join. The stream==batch pytest at sf0.01 pins the same
    # equality Spark-side.
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id,
           v.user_id AS user_id
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    doc="stream-stream interval join: views x clicks per user within 30 minutes, both sides watermarked (bounded join state at any stream size)",
)
def x_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    views = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "10 minutes")
    )
    clicks = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "10 minutes")
    )
    pairs = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("view_id", "click_id", F.col("v_user").alias("user_id"))
    return _run_to_memory(pairs, "append", sf)


@query(
    "x_stream_stateful_counts",
    # Graduated rows-only -> full oracle (r10): the state HANDLING is
    # custom, but the returned value is each user's FINAL state — and
    # the final count/sum after all input is consumed is micro-batch-
    # boundary-invariant (integer ten-thousandths accumulation, see
    # _q4), so it admits the same batch-aggregate oracle its
    # transformWithState twin x_stream_tws_counts has carried since r9.
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS total_value
    FROM events GROUP BY user_id
    """,
    doc="custom stateful streaming operator via applyInPandasWithState: per-user running event count + value sum kept in state across micro-batches (ref process-state checkpoint internal/worker/persistance.go:25-69)",
)
def x_stream_stateful_counts(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _events_stream(spark, sf).select("user_id", "value")

    def update(key, pdfs, state):
        # integer ten-thousandths state (same discipline as
        # x_stream_session_timeout, r7): per-row _q4 mirrors the batch
        # twin's CAST(value AS DECIMAL(18,4)) exactly, so stream == batch
        # to the cent regardless of micro-batch boundaries or float
        # summation order
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += sum(_q4(float(v)) for v in pdf["value"])
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [_money_q4(total)]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_to_memory(out, "update", sf)
    # keep the final state row per user (multiple micro-batches emit updates)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )


@query(
    "d41_stream_dedup",
    # Graduated rows-only -> full oracle (r10): the dedup mechanism is
    # stateful, but the FINAL per-type aggregate is not — within-
    # watermark dedup keeps exactly one row per event_id (the self-
    # union's duplicates arrive in the same micro-batch, trivially
    # inside the watermark), and event_id is the generator's unique
    # key, so the emitted count per event_type equals the distinct-key
    # count no matter how the stream was batched.
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="D-41 stateful streaming dedup under redelivery: every event delivered twice, deduped by event_id within the watermark (ref idempotence internal/core/task.go:157-179)",
)
def d41_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # simulate at-least-once redelivery by unioning the stream with itself
    ev = _events_stream(spark, sf).unionByName(_events_stream(spark, sf))
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    sink = _run_to_memory(deduped, "append", sf)
    return sink.groupBy("event_type").agg(F.count("*").alias("n_events"))


@query(
    "x_stream_session_timeout",
    # Graduated rows-only -> full oracle (r10): same determinism
    # argument as its transformWithState twin x_stream_tws_sessions
    # (whose identical oracle the driver hash-proved in r9's window) —
    # single-batch AvailableNow closes every non-trailing session on
    # the next event's arrival, and the final watermark
    # floor_ms(max(ts)) - 10min times out exactly the trailing sessions
    # whose deadline (end + gap, ms-floored by setTimeoutTimestamp) it
    # has reached. The ==batch pytest contract in
    # tests/test_ann_and_state.py remains as the Spark-side witness.
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *, CAST(SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM flagged
    ),
    agg AS (
        SELECT user_id, session_seq, COUNT(*)::BIGINT AS n_events,
               min(ts) AS t0, max(ts) AS t1,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS session_value,
               MAX(session_seq) OVER (PARTITION BY user_id) AS max_seq
        FROM sessions GROUP BY user_id, session_seq
    ),
    wm AS (SELECT epoch_ms(max(ts)) - 600000 AS wm_ms FROM events)
    SELECT user_id,
           strftime(t0, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(t1, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events, session_value
    FROM agg, wm
    WHERE session_seq < max_seq
       OR (epoch_us(t1) + {_SESSION_GAP_S} * 1000000) // 1000 <= wm_ms
    """,
    doc="stateful streaming sessionization with closure emission: applyInPandasWithState holds each user's open session and emits a session ONLY when it closes (gap detected by a later event, or event-time timeout past the watermark) — the production 'session ended' feed",
)
def x_stream_session_timeout(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB design: state is ONE open session per user (four scalars)
    — not buffered events — so state size is bounded by active users,
    and the watermark-driven timeout (setTimeoutTimestamp at last_seen
    + gap) guarantees idle sessions close and release state instead of
    accumulating forever (the leak every naive stateful sessionizer
    ships with). In-batch closures emit immediately; only each user's
    trailing open session waits on the timeout. Mirrors d37's batch
    semantics exactly for every closed session (pinned by the pytest
    contract above; ref process-state checkpoint
    internal/worker/persistance.go:25-69)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = _SESSION_GAP_S * 1_000_000
    ev = (
        _events_stream(spark, sf)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "value")
    )

    # _q4/_money_q4 (module scope): exact mirror of the batch twin's
    # CAST(value AS DECIMAL(18,4)) accumulation — see their docstrings
    # (ADVICE r6: the old float+banker's-round accumulator could differ
    # from d37 by a cent)
    q4, money = _q4, _money_q4

    def fn(key, pdfs, state):
        uid = key[0]
        out = []
        if state.hasTimedOut:
            s0, last, n, total = state.get
            out.append((uid, s0, last, n, money(total)))
            state.remove()
        else:
            batch = pd.concat(list(pdfs))
            if len(batch):
                batch = batch.sort_values("ts")
                us = (batch["ts"].astype("int64") // 1000).tolist()  # ns -> us
                vals = batch["value"].tolist()
                if state.exists:
                    s0, last, n, total = state.get
                else:
                    s0, last, n, total = us[0], us[0], 0, 0
                for t, v in zip(us, vals):
                    if n and t - last > gap_us:
                        out.append((uid, s0, last, n, money(total)))
                        s0, n, total = t, 0, 0
                    last, n, total = t, n + 1, total + q4(float(v))
                state.update((s0, last, n, total))
                state.setTimeoutTimestamp((last + gap_us) // 1000)
        yield pd.DataFrame(
            out,
            columns=["user_id", "start_us", "end_us", "n_events", "session_value"],
        )

    closed = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, start_us long, end_us long, n_events long, session_value double",
        stateStructType="s0 long, last long, n long, total long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # stateStructType keeps total as LONG ten-thousandths (integer-cents
    # discipline): stream == batch d37 exactly, no float accumulation
    sink = _run_to_memory(closed, "append", sf)
    return sink.select(
        "user_id",
        ts_str(F.timestamp_micros(F.col("start_us"))).alias("session_start"),
        ts_str(F.timestamp_micros(F.col("end_us"))).alias("session_end"),
        "n_events",
        "session_value",
    ).orderBy("user_id", "session_start")


@query(
    "x_stream_upsert",
    # foreachBatch exactly-once keyed upsert — THE production pattern
    # for maintaining a mutable state table off a stream when the sink
    # has no transactional MERGE (the reference's idempotent ledger
    # update, ref internal/core/task.go:157-179, generalized to
    # last-write-wins state). The merge keeps the per-key row with the
    # MAXIMUM (ts, event_id), which is associative/commutative/
    # idempotent — so the final table is independent of micro-batch
    # boundaries, redelivery, and arrival order, and a plain batch SQL
    # oracle can check it exactly (unlike append-mode emission, which
    # is watermark-timing-dependent and stays rows-only).
    oracle="""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
           event_type AS last_event_type,
           CAST(floor(value * 100) AS BIGINT) AS last_cents
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    ORDER BY user_id
    """,
    doc="foreachBatch exactly-once upsert: per-user latest-state table maintained across micro-batches via max-(ts,event_id) merge — batching-independent, hash-checked against the batch QUALIFY oracle",
)
def x_stream_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB design: each micro-batch pays one merge-key shuffle
    (the latest_per_key collapse over target ∪ updates); with the
    state table bucketed on user_id the join co-locates and a real
    lakehouse sink (MERGE INTO) touches only matched files. State size
    is bounded by distinct users, not stream length. The swap-dir
    commit below stands in for the sink's atomic commit; the
    checkpoint makes replays re-run foreachBatch with the same batch
    ids, and the max-merge makes those replays idempotent — together
    that is the exactly-once contract (redelivery idempotence pinned
    in tests/test_streaming.py).

    Determinism note: the merge key order is (ts, event_id) with
    event_id unique per event, so ties cannot survive; floor-cents
    mirrors the oracle exactly."""
    import shutil

    from chyme_spark.merge import latest_per_key

    ev = _events_stream(spark, sf).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="chyme_upsert_")
    state_dir = os.path.join(base, "state")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_df = batch_df.withColumn(
            "__ord", F.struct(F.col("ts"), F.col("event_id"))
        )
        if os.path.exists(state_dir):
            merged = s.read.parquet(state_dir).unionByName(batch_df)
        else:
            merged = batch_df
        merged = latest_per_key(merged, ["user_id"], "__ord")
        stage = os.path.join(base, f"stage_{batch_id}")
        merged.write.mode("overwrite").parquet(stage)
        # atomic-enough swap (driver-side, sequential per batch): the
        # stand-in for a transactional sink's commit
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.replace(stage, state_dir)

    ckpt = tempfile.mkdtemp(prefix="chyme_upsert_ckpt_")
    # the foreachBatch merge's keyed shuffle (and the state table's file
    # count) follow the same input-derived partition count as the
    # stateful ops — the merge result is key-deterministic either way
    with _scaled_state_conf(spark, sf):
        q = (
            ev.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(state_dir)
        .select(
            "user_id",
            ts_str("ts").alias("last_seen"),
            F.col("event_type").alias("last_event_type"),
            F.floor(F.col("value") * 100).cast("long").alias("last_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "x_stream_outer_join",
    # Graduated rows-only -> full oracle (r10): under AvailableNow the
    # end-of-stream watermark timing is FIXED, so the emitted set is
    # deterministic. Matched pairs equal the batch inner interval join
    # (single-batch source, nothing late — see x_stream_stream_join);
    # the null-click rows are exactly the unmatched views whose join
    # horizon (v_ts + 30min, compared in microseconds) the final global
    # watermark min(max v_ts, max c_ts) - 10min (whole milliseconds,
    # Spark's event-time stats granularity) has strictly passed.
    # Boundary pinned empirically at sf0.01 BEFORE the oracle was
    # added: 1954 of 1955 unmatched views emitted — the one view inside
    # the horizon withheld — discriminating vt+30min<wm from vt<wm; the
    # horizon-completeness pytest vs the batch LEFT JOIN remains.
    oracle="""
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS vt
               FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id, event_id AS click_id, ts AS ct
               FROM events WHERE event_type = 'click'),
         wm AS (
           SELECT least(
                    epoch_ms(max(CASE WHEN event_type = 'view' THEN ts END)),
                    epoch_ms(max(CASE WHEN event_type = 'click' THEN ts END))
                  ) - 600000 AS wm_ms
           FROM events
         ),
         m AS (
           SELECT v.view_id, c.click_id, v.user_id
           FROM v JOIN c ON v.user_id = c.user_id
            AND c.ct >= v.vt AND c.ct <= v.vt + INTERVAL 30 MINUTE
         )
    SELECT view_id, click_id, user_id, TRUE AS matched FROM m
    UNION ALL
    SELECT v.view_id, NULL AS click_id, v.user_id, FALSE AS matched
    FROM v, wm
    WHERE v.view_id NOT IN (SELECT view_id FROM m)
      AND epoch_us(v.vt) + 1800000000 < wm.wm_ms * 1000
    """,
    doc="LEFT OUTER stream-stream join with watermarked state: views left-joined to clicks within 30 minutes; unmatched views emit a null click once the watermark clears their horizon — the outer-emission surface on top of x_stream_stream_join",
)
def x_stream_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB design: identical state bounds to the inner
    x_stream_stream_join (both sides watermarked, join state evicted
    past the 30-minute horizon) plus the outer-side bookkeeping Spark
    keeps to know when a view can no longer match — which is exactly
    the watermark, so state stays bounded by the horizon at any stream
    size. The production use is click-attribution with explicit
    'no click' rows (the reference's quarantine-vs-processed split,
    ref internal/worker/service.go:131-183, as a streaming feed)."""
    views = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    clicks = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    pairs = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select(
        "view_id",
        "click_id",
        F.col("v_user").alias("user_id"),
        F.col("click_id").isNotNull().alias("matched"),
    )
    return _run_to_memory(pairs, "append", sf)


@query(
    "x_datasource_stream_write",
    # Python Data Source STREAMING WRITER (Spark 4.x, VERDICT r7 #5):
    # the custom-sink surface WITHOUT foreachBatch — write()/commit()/
    # abort() run inside Spark's own sink commit protocol. The sink's
    # manifest makes committed output exactly the full event set, so the
    # round-trip aggregate is hash-checkable against a plain batch
    # oracle: any lost partition, duplicated replay, or leaked aborted
    # file changes the counts/sums and fails the hash.
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    doc="Python DataSource streaming writer: events stream -> chyme_jsonl_sink (staged files + batchId-idempotent manifest commit) -> committed-files readback, aggregated per event_type — the foreachBatch-free exactly-once sink surface",
)
def x_datasource_stream_write(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB design: write() is embarrassingly parallel (one staged
    file per partition per micro-batch, no coordination); the only
    serial point is the driver's one manifest append per micro-batch —
    O(batches), not O(rows). Readers see committed batches only, so a
    downstream consumer can tail the manifest incrementally the way the
    reference's worker marks tasks done exactly once under redelivery
    (ref internal/core/task.go:157-179). The JSONL staging format here
    is the demo surface; the identical writer skeleton carries parquet
    at scale."""
    from chyme_spark.sources import read_jsonl_sink, register_jsonl_sink

    register_jsonl_sink(spark)
    ev = _events_stream(spark, sf).select("event_id", "event_type", "value")
    dest = tempfile.mkdtemp(prefix="chyme_dsink_")
    ckpt = tempfile.mkdtemp(prefix="chyme_dsink_ckpt_")
    q = (
        ev.writeStream.format("chyme_jsonl_sink")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = read_jsonl_sink(
        spark, dest, "event_id long, event_type string, value double"
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        money(F.sum(dec("value"))).alias("total_value"),
    )


def transform_with_state_supported() -> bool:
    """Capability probe for Spark 4.x transformWithStateInPandas.

    The operator's Python runner speaks protobuf to the JVM state
    server; this container ships a broken google.protobuf namespace
    stub (``from google.protobuf import descriptor`` raises), so the
    driver-side init worker crashes before the first micro-batch.
    Probe the exact missing piece instead of crashing a stream — the
    same honest environment gate as the ffmpeg codec path
    (ops/binary.py) and the dockerd executor (runner.py).

    Round 9: the probe now also consults :mod:`chyme_spark.pbcompat`,
    which can activate a pure-Python protobuf runtime bundled by other
    publicly-distributed SDKs on the host (found: App Engine platform's
    protobuf 6.32.0), un-gating the operator on this container."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        from chyme_spark import pbcompat

        return pbcompat.find_protobuf_runtime() is not None


@query(
    "x_stream_tws_counts",
    # Unlike the applyInPandasWithState twin (rows-only), this entry
    # carries the full batch-aggregate oracle: the final per-user state
    # is deterministic under AvailableNow regardless of micro-batch
    # boundaries (integer ten-thousandths state), so the driver's hash
    # compare proves stream == batch == DuckDB in one shot.
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS total_value
    FROM events GROUP BY user_id
    """,
    doc="transformWithStateInPandas running counts (Spark 4.x typed ValueState, RocksDB state store): per-user event count + value sum — un-gated in r9 via pbcompat's host protobuf runtime probe",
)
def stateful_running_counts_tws(spark: SparkSession, sf: str) -> DataFrame:
    """x_stream_stateful_counts re-expressed on transformWithState —
    Spark 4.x's successor stateful API (SPARK-46815): typed composite
    state (ValueState/ListState/MapState), timers, TTL, and an
    evolvable state schema, replacing applyInPandasWithState's single
    tuple. Requires the RocksDB state store provider (changelog
    checkpointing at scale) and a working protobuf runtime — gate with
    :func:`transform_with_state_supported` before calling; pinned
    ==batch by tests/test_streaming.py when the environment allows.

    100 TB design: identical bounds to the applyInPandasWithState twin
    (state is two scalars per user), but RocksDB-backed state scales
    past executor memory and the changelog checkpoint makes restore
    O(delta), not O(state) — the reasons this API exists."""
    import pandas as pd

    from chyme_spark import pbcompat

    if not pbcompat.enable(spark):
        raise RuntimeError(
            "no protobuf runtime on this host — gate with "
            "transform_with_state_supported() before calling"
        )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class CountsProcessor(StatefulProcessor):
        def init(self, handle):
            # integer ten-thousandths discipline, same as the twin
            self.state = handle.getValueState("acc", "n long, total long")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self.state.get() if self.state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                total += sum(_q4(float(v)) for v in pdf["value"])
            self.state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [_money_q4(total)],
                }
            )

        def close(self):
            pass

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = _events_stream(spark, sf).select("user_id", "value")
        out = ev.groupBy("user_id").transformWithStateInPandas(
            CountsProcessor(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
        sink = _run_to_memory(out, "update", sf)
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )


@query(
    "x_stream_tws_sessions",
    # Graduated from rows-only in r10 (VERDICT r9 #3): under
    # AvailableNow the closed-session set IS deterministic, so it
    # admits a full batch-SQL oracle. The single-file source delivers
    # all events in micro-batch 1 (watermark still at zero), so
    # handleInputRows closes every NON-trailing session on the next
    # event's arrival; the final watermark then advances to
    # max(ts) - 10min and the no-data batch fires exactly the timers
    # with deadline (end+gap, ms-floored) <= that watermark — i.e. the
    # trailing sessions old enough to time out. The oracle is D-37's
    # sessionization CTE filtered to that closed set; the twin-equality
    # pytest contract (== x_stream_session_timeout) remains in force.
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *, CAST(SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM flagged
    ),
    agg AS (
        SELECT user_id, session_seq, COUNT(*)::BIGINT AS n_events,
               min(ts) AS t0, max(ts) AS t1,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS session_value,
               MAX(session_seq) OVER (PARTITION BY user_id) AS max_seq
        FROM sessions GROUP BY user_id, session_seq
    ),
    wm AS (SELECT epoch_ms(max(ts)) - 600000 AS wm_ms FROM events)
    SELECT user_id,
           strftime(t0, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(t1, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events, session_value
    FROM agg, wm
    WHERE session_seq < max_seq
       OR (epoch_us(t1) + {_SESSION_GAP_S} * 1000000) // 1000 <= wm_ms
    """,
    doc="transformWithStateInPandas sessionization with TIMERS: event-time timers (registerTimer/handleExpiredTimer) close idle sessions past the watermark — the TWS capability the counts op does not exercise; closed set hash-proven against the d37 CTE filtered by the final-watermark timer rule",
)
def stream_tws_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """x_stream_session_timeout re-expressed on transformWithState to
    exercise the API's genuinely new surface: REGISTERED TIMERS.
    applyInPandasWithState allows one implicit timeout per key
    (setTimeoutTimestamp); transformWithState exposes explicit timer
    management (registerTimer / deleteTimer / listTimers +
    handleExpiredTimer), which is what multi-deadline operators (e.g.
    per-key SLA ladders) need. Here the single session-gap deadline is
    re-registered on every event — delete stale, register last+gap —
    and handleExpiredTimer emits the trailing session and clears state.

    100 TB design: identical bounds to the twin (state = four scalars
    per ACTIVE user, timers one per active user, both RocksDB-backed
    past executor memory); closure keeps state size proportional to
    active — not historical — users."""
    import pandas as pd

    from chyme_spark import pbcompat

    if not pbcompat.enable(spark):
        raise RuntimeError(
            "no protobuf runtime on this host — gate with "
            "transform_with_state_supported() before calling"
        )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    gap_us = _SESSION_GAP_S * 1_000_000
    cols = ["user_id", "start_us", "end_us", "n_events", "session_value"]
    q4, money = _q4, _money_q4

    class SessionProcessor(StatefulProcessor):
        def init(self, handle):
            self.handle = handle
            # integer ten-thousandths total: the twin's exact-cents
            # discipline, so both emit byte-identical session_value
            self.state = handle.getValueState(
                "sess", "s0 long, last long, n long, total long"
            )

        def handleInputRows(self, key, rows, timerValues):
            uid = key[0]
            out = []
            batch = pd.concat(list(rows))
            if len(batch):
                batch = batch.sort_values("ts")
                us = (batch["ts"].astype("int64") // 1000).tolist()  # ns -> us
                vals = batch["value"].tolist()
                if self.state.exists():
                    s0, last, n, total = self.state.get()
                else:
                    s0, last, n, total = us[0], us[0], 0, 0
                for t, v in zip(us, vals):
                    if n and t - last > gap_us:
                        out.append((uid, s0, last, n, money(total)))
                        s0, n, total = t, 0, 0
                    last, n, total = t, n + 1, total + q4(float(v))
                self.state.update((s0, last, n, total))
                # explicit timer discipline: one live deadline per key —
                # drop the stale one(s), arm last_seen + gap. listTimers
                # is a lazy state-backed iterator: materialize before
                # deleting, or the mutation mid-scan can skip/error once
                # more than one timer is live.
                for t_ms in list(self.handle.listTimers()):
                    self.handle.deleteTimer(t_ms)
                self.handle.registerTimer((last + gap_us) // 1000)
            yield pd.DataFrame(out, columns=cols)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            out = []
            if self.state.exists():
                s0, last, n, total = self.state.get()
                out.append((key[0], s0, last, n, money(total)))
                self.state.clear()
            yield pd.DataFrame(out, columns=cols)

        def close(self):
            pass

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = (
            _events_stream(spark, sf)
            .withWatermark("ts", "10 minutes")
            .select("user_id", "ts", "value")
        )
        closed = ev.groupBy("user_id").transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=(
                "user_id long, start_us long, end_us long, "
                "n_events long, session_value double"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
        sink = _run_to_memory(closed, "append", sf)
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    return sink.select(
        "user_id",
        ts_str(F.timestamp_micros(F.col("start_us"))).alias("session_start"),
        ts_str(F.timestamp_micros(F.col("end_us"))).alias("session_end"),
        "n_events",
        "session_value",
    ).orderBy("user_id", "session_start")


@query(
    "x_datasource_batch_write",
    # Batch form of the Python Data Source writer (DataSourceWriter):
    # same staged-files + manifest commit as the streaming sink, one
    # commit for the whole job — closes the DataSource matrix (batch
    # read chyme_listing, stream read, stream write, batch write). The
    # round-trip aggregate is hash-checked against the source table.
    oracle="""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS total_balance
    FROM customer GROUP BY c_nationkey
    """,
    doc="Python DataSource BATCH writer: customer table written through chyme_jsonl_sink (staged files + one manifest commit), committed-files readback aggregated per nation",
)
def x_datasource_batch_write(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB shape: write() stages one file per partition in parallel
    with zero coordination; commit() is one driver append. A failed
    job's staged files never enter the manifest, so a re-run starts
    from a consistent (empty or previous) committed view — the batch
    analog of the stream writer's replay idempotence."""
    from chyme_spark.sources import read_jsonl_sink, register_jsonl_sink

    register_jsonl_sink(spark)
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    dest = tempfile.mkdtemp(prefix="chyme_dsink_batch_")
    cust.write.format("chyme_jsonl_sink").option("path", dest).mode("append").save()
    back = read_jsonl_sink(
        spark, dest, "c_custkey long, c_nationkey int, c_acctbal double"
    )
    return back.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        money(F.sum(dec("c_acctbal"))).alias("total_balance"),
    )

"""CLI — the chyme verbs as Spark jobs (ref ``README.md:98-128`` usage).

    chyme-spark ingest <root-or-url> --filter ext/mov [--recursion N] --catalog DIR
        [--follow | --distributed-listing] [--s3-option KEY=VALUE ...]
    chyme-spark tasker --catalog DIR --tasks DIR
    chyme-spark worker --tasks DIR --ledger DIR --quarantine DIR [--follow | --redrive]
    chyme-spark status [--catalog DIR] [--tasks DIR] [--ledger DIR] [--quarantine DIR]
    chyme-spark query <name> [--sf DIR] [--show N]
    chyme-spark sql "SELECT ..." [--sf DIR] [--table NAME=PATH] [--explain]
    chyme-spark ls-queries

The reference split these into three long-running services wired by
Redis/SQS/HTTP (ref ``cmd/ingest.go``, ``cmd/tasker.go``,
``cmd/worker.go``); here each verb is one idempotent batch job over
parquet tables, and the scheduler/queue is Spark itself.

The work queue is tasks - ledger - quarantine: a failed task becomes a
dead letter in the quarantine and no worker verb runs it again, until
``worker --redrive`` retries the dead letters in one batch. ``status``
prints each table's rows plus ``pending`` (the queue) and ``dead
letters`` (quarantine - ledger).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F

from chyme_spark import tables
from chyme_spark.session import get_spark


def pending(spark, tasks, ledger_path: str | None, quarantine_path: str | None):
    """``tasks`` less the completed (in the ledger) and the dead letters
    (in the quarantine): the work queue. A failed task leaves the queue
    like the reference's Fail -> DLQ (ref internal/core/task.go:132-147);
    pass ``quarantine_path=None`` to redrive it."""
    for kind, path in (("ledger", ledger_path), ("quarantine", quarantine_path)):
        seen = tables.read(spark, kind, path) if path else None
        if seen is not None:
            tasks = tasks.join(seen.select("task_hash"), "task_hash", "left_anti")
    return tasks


def _append_counted(df, path: str) -> int:
    """Append ``df`` to the parquet table at ``path``; returns the rows
    written, counted by the write job itself (an observed metric), so
    the rows are computed once and never cached."""
    written = Observation()
    df.observe(written, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(path)
    return written.get["n"]


def _run_stream(writer, args) -> str:
    """Run a ``--follow`` stream to its end and name its mode: drain what
    is there (``availableNow``), or long-poll every ``--follow-interval``
    until interrupted or ``--follow-duration`` elapses."""
    interval = getattr(args, "follow_interval", None)
    if interval:
        writer = writer.trigger(processingTime=interval)
    else:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    duration = getattr(args, "follow_duration", None)
    if duration is not None:
        q.awaitTermination(duration)
        q.stop()
    q.awaitTermination()
    return f"long-poll every {interval}" if interval else "stream drain"


def _listing(spark, root: str, recursion: int | None, s3_options: dict | None, stream: bool = False):
    """The chyme_listing reader over ``root``: the one place its path,
    depth and ``s3.*`` object-store options (endpoint, credentials) are
    set, for the batch and the streaming (``stream``) ingest alike."""
    from chyme_spark.sources import register_listing_source

    register_listing_source(spark)
    rd = (spark.readStream if stream else spark.read).format("chyme_listing").option("path", root)
    if recursion is not None:
        rd = rd.option("depth", str(recursion))
    for k, v in (s3_options or {}).items():
        rd = rd.option(f"s3.{k}", v)
    return rd


def _ingest_follow(spark, args, s3_options: dict) -> int:
    """Perpetual ingest: the recursive lister as a STREAMING source
    feeding the catalog — the reference's always-on indexer service
    (ref internal/ingest/service.go:42-119 behind its HTTP loop) as a
    Structured Streaming query with exactly-once file delivery.

    On object stores add ``--append-only-keys`` when the producer
    writes lexically increasing keys: the stream offset becomes the
    high-water KEY and an unchanged bucket costs one empty
    ListObjectsV2 page per poll instead of a full re-list (see
    sources.ListingStreamReader)."""
    from chyme_spark.filters import compile_filter

    rd = _listing(spark, args.root, args.recursion, s3_options, stream=True)
    if getattr(args, "append_only_keys", False):
        rd = rd.option("appendOnlyKeys", "true")
    wanted = compile_filter(args.filter)
    counts = {"n": 0}

    def process(batch_df, _batch_id: int) -> None:
        counts["n"] += _catalog_new(spark, batch_df.select("url"), wanted, args.catalog)[0]

    ckpt = args.follow_checkpoint or f"{args.catalog.rstrip('/')}_stream_ckpt"
    writer = (
        rd.load()
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
    )
    mode = _run_stream(writer, args)
    print(f"cataloged {counts['n']} new resources ({mode})")
    return 0


def _ingest_once(
    spark,
    root: str,
    filter_string: str,
    recursion: int | None,
    catalog_path: str,
    distributed_listing: bool = False,
    s3_options: dict | None = None,
) -> tuple[int, int]:
    """One batch ingest pass (list -> filter -> dedup -> append); returns
    (n ingested, n quarantined). Shared by the CLI verb and the HTTP
    transport's endpoint (ref svc.Ingest, internal/ingest/service.go:42-119).

    Raises ValueError on a bad filter string — callers map it to their
    transport's error convention (exit code 2 / response err field)."""
    from chyme_spark.catalog import list_files
    from chyme_spark.filters import compile_filter

    # building the Column requires an active session, so validate
    # after get_spark — but before any data is touched
    wanted = compile_filter(filter_string)
    if distributed_listing:
        # the same walk as list_files, run on executors by the
        # chyme_listing source
        urls = _listing(spark, root, recursion, s3_options).load().select("url")
    elif "://" in root and not root.startswith("file://"):
        # remote URL without a listing mode = the reference's
        # single-object ingest path
        urls = spark.createDataFrame([(root,)], "url string")
    else:
        urls = list_files(spark, root, recursion).select("url")
    return _catalog_new(spark, urls, wanted, catalog_path)


def _catalog_new(spark, urls, wanted, catalog_path: str) -> tuple[int, int]:
    """Append the listed ``urls`` that are well-formed, ``wanted`` and
    not yet cataloged to the catalog at ``catalog_path``; returns (n
    appended, n malformed). The tail of both ingest paths: the batch
    pass and each micro-batch of ``--follow``.

    These are catalog.ingest's rows (well-formed, wanted, one per url,
    not yet cataloged) from ONE pass over the listing: the write job
    counts the appended rows and the malformed ones, so nothing is
    cached and no second job re-lists. The malformed rows ride along
    through the dedup and the anti-join (neither can drop one: a url is
    malformed or not as a whole, and the catalog holds none) to be
    counted in the write's final stage — an observed metric below a
    shuffle is lost when adaptive execution replaces that shuffle's
    empty output (nothing wanted, say) with an empty relation."""
    from chyme_spark.catalog import well_formed, with_resource_columns

    ok = well_formed()
    rows = with_resource_columns(urls).filter(wanted | ~ok).dropDuplicates(["url"])
    # dedup against what's already cataloged (idempotent re-ingest)
    existing = tables.read(spark, "catalog", catalog_path)
    if existing is not None:
        rows = rows.join(existing.select("url"), "url", "left_anti")
    malformed = Observation()
    rows = rows.observe(malformed, F.count_if(~ok).alias("n"))
    n = _append_counted(rows.filter(ok), catalog_path)
    return n, malformed.get["n"]


def cmd_ingest(args) -> int:
    if getattr(args, "server", None):
        # client mode — the reference's `chyme ingest <url>` verb POSTs to
        # the running service instead of touching storage itself
        # (cmd/ingest.go:66-92)
        local_only = [
            f for f in ("follow", "distributed_listing", "catalog", "s3_option")
            if getattr(args, f, None)
        ]
        if local_only:
            flags = ", ".join("--" + f.replace("_", "-") for f in local_only)
            print(
                f"error: {flags} cannot combine with --server — the server "
                "owns listing mode and the catalog; a one-shot POST would "
                "silently ignore them",
                file=sys.stderr,
            )
            return 2
        from chyme_spark.transport import post_ingest

        try:
            out = post_ingest(args.server, args.root, args.filter, args.recursion)
        except Exception as e:  # noqa: BLE001 — network/service error -> exit 1
            print(f"error: {e}", file=sys.stderr)
            return 1
        print(f"Ingest Success ({out['res']} resources)")
        return 0
    if not getattr(args, "catalog", None):
        print("error: --catalog is required unless --server is given", file=sys.stderr)
        return 2
    # explicit object-store config (endpoint/credentials) for the
    # chyme_listing source — production normally rides the env
    # credential chain, but private endpoints (minio, localstack) need
    # overrides; only that source reads them
    s3_options = {}
    for kv in getattr(args, "s3_option", None) or []:
        k, _, v = kv.partition("=")
        if not v:
            print(f"error: --s3-option expects KEY=VALUE, got {kv!r}", file=sys.stderr)
            return 2
        s3_options[k] = v
    listing = getattr(args, "follow", False) or getattr(args, "distributed_listing", False)
    if s3_options and not listing:
        print(
            "error: --s3-option needs --follow or --distributed-listing — the "
            "driver listing and a single-object URL read no object-store option",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("chyme_ingest")
    if getattr(args, "follow", False):
        from chyme_spark.filters import compile_filter

        try:
            compile_filter(args.filter)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        return _ingest_follow(spark, args, s3_options)
    try:
        n, nq = _ingest_once(
            spark,
            args.root,
            args.filter,
            args.recursion,
            args.catalog,
            getattr(args, "distributed_listing", False),
            s3_options,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(f"ingested {n} new resources -> {args.catalog} ({nq} malformed skipped)")
    return 0


def cmd_serve(args) -> int:
    """R39: the always-on ingest service — listen at /ingest, run each
    request through the Spark-backed catalog (ref cmd/ingest.go:37-57;
    transport contract in chyme_spark/transport.py)."""
    from chyme_spark.transport import make_server, serve_forever

    spark = get_spark("chyme_ingest_http")

    def _fn(url: str, filter_string: str, depth) -> int:
        n, _nq = _ingest_once(
            spark,
            url,
            filter_string or "identity/",
            depth,
            args.catalog,
            args.distributed_listing,
        )
        return n

    server = make_server(_fn, host=args.host, port=args.port)
    host, port = server.server_address[:2]
    print(f"listening at http://{host}:{port}/ingest -> {args.catalog}")
    if getattr(args, "serve_duration", None):
        # bounded run for tests/smoke: shut down from a timer thread
        import threading

        threading.Timer(args.serve_duration, server.shutdown).start()
    serve_forever(server)
    return 0


def cmd_tasker(args) -> int:
    from chyme_spark.tasker import create_tasks
    from chyme_spark.templates import DEFAULT_TEMPLATES, with_overrides

    spark = get_spark("chyme_tasker")
    catalog = tables.read(spark, "catalog", args.catalog)
    n = 0
    if catalog is not None:
        templates = with_overrides(
            DEFAULT_TEMPLATES, mirror_base=args.mirror_base, executor=args.executor, cmd=args.cmd
        )
        # Anti-join the tasks table only: the ledger records only hashes
        # of rows in the tasks table, so a task already completed, pending
        # or quarantined is there, and re-running tasker before the worker
        # drains appends no duplicate (ADVICE r1).
        existing = tables.read(spark, "tasks", args.tasks)
        n = _append_counted(create_tasks(catalog, existing, templates), args.tasks)
    print(f"created {n} tasks -> {args.tasks}")
    return 0


def _worker_batch(spark, args, todo) -> tuple[int, int]:
    """Run one batch of tasks and append ledger/quarantine rows."""
    from chyme_spark.runner import run_tasks

    # Materialize the batch once: with nothing pending the verb starts no
    # Python worker and writes nothing.
    todo = todo.localCheckpoint(eager=True)
    if todo.isEmpty():
        return 0, 0
    if args.parallelism:
        todo = todo.repartition(args.parallelism)
    # Materialize the results once, with no lineage back to the ledger:
    # the ledger append below makes Spark refresh every cached plan that
    # reads the ledger's path. A cache() here was dropped by that
    # refresh, and the quarantine write then ran every failing task's
    # payload a second time.
    results = run_tasks(todo, checkpoint_dir=args.checkpoint_dir).localCheckpoint(eager=True)
    counts = Observation()
    observed = results.observe(
        counts, F.count_if("ok").alias("ok"), F.count_if(~F.col("ok")).alias("fail")
    )
    observed.filter(F.col("ok")).select(
        "task_hash", "stage", F.current_timestamp().alias("completed_at")
    ).write.mode("append").parquet(args.ledger)
    n_ok, n_fail = counts.get["ok"], counts.get["fail"]
    if n_fail:
        # One quarantine row per task_hash — the DLQ records THAT a task
        # failed, not every attempt: a redriven task that fails again, or
        # a stream batch replayed after a crash between this append and
        # its checkpoint commit (ADVICE r2), adds no second row.
        failed = results.filter(~F.col("ok")).select(
            "task_hash", F.col("error"), F.current_timestamp().alias("failed_at"),
            F.col("stage").alias("failed_stage"),
        )
        existing = tables.read(spark, "quarantine", args.quarantine)
        if existing is not None:
            failed = failed.join(existing.select("task_hash"), "task_hash", "left_anti")
        failed.write.mode("append").parquet(args.quarantine)
    return n_ok, n_fail


def _worker_follow(spark, args) -> int:
    """Streaming worker: the tasks table is the queue, consumed with
    Structured Streaming + foreachBatch — true parity with the
    reference's long-poll worker loop (ref internal/worker/service.go:43-66).

    Default trigger is ``Trigger.AvailableNow``: drain everything
    enqueued so far and exit (the reference's DequeueAll drain,
    pkg/aws/sqs.go:134-162); re-invoking resumes from the stream
    checkpoint, so each task FILE is read exactly once across
    invocations, and the pending anti-join inside the batch keeps
    task-level idempotence even if the checkpoint is lost.

    ``--follow-interval "20 seconds"`` switches to a perpetual
    ``processingTime`` long-poll — true parity with the reference's
    20 s/30 s poll loops (ref internal/worker/service.go:43-66,
    cmd/tasker.go:85-99): the verb keeps watching the tasks prefix for
    newly appended files until interrupted (or ``--follow-duration``
    elapses, for tests and bounded runs).
    """
    # the long-poll worker may start BEFORE the first tasker run — wait
    # for the tasks table like the reference polls an empty queue,
    # instead of dying on PATH_NOT_FOUND (round-6 review). Bounded by
    # --follow-duration so tests and one-shot drains still exit.
    import time as _time

    deadline = (
        _time.monotonic() + args.follow_duration
        if getattr(args, "follow_duration", None)
        else None
    )
    while not tables.exists(spark, args.tasks):
        if deadline is not None and _time.monotonic() >= deadline:
            print("no tasks table appeared before --follow-duration; exiting")
            return 0
        print(f"waiting for tasks table {args.tasks} ...")
        _time.sleep(2.0)
    counts = {"ok": 0, "fail": 0}

    def process(batch_df, _batch_id: int) -> None:
        todo = pending(spark, batch_df, args.ledger, args.quarantine)
        n_ok, n_fail = _worker_batch(spark, args, todo)
        counts["ok"] += n_ok
        counts["fail"] += n_fail

    ckpt = args.follow_checkpoint or f"{args.tasks.rstrip('/')}_stream_ckpt"
    writer = (
        spark.readStream.schema(tables.SCHEMAS["tasks"])
        .parquet(args.tasks)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
    )
    mode = _run_stream(writer, args)
    print(f"completed {counts['ok']} tasks; quarantined {counts['fail']} ({mode})")
    return 0


def cmd_worker(args) -> int:
    redrive = getattr(args, "redrive", False)
    if redrive and getattr(args, "follow", False):
        print("error: --redrive is a batch verb; it cannot combine with --follow",
              file=sys.stderr)
        return 2
    spark = get_spark("chyme_worker")
    if getattr(args, "follow", False):
        return _worker_follow(spark, args)
    tasks = tables.read(spark, "tasks", args.tasks)
    n_ok = n_fail = 0
    if tasks is not None:
        todo = pending(spark, tasks, args.ledger, None if redrive else args.quarantine)
        n_ok, n_fail = _worker_batch(spark, args, todo)
    print(f"completed {n_ok} tasks; quarantined {n_fail}")
    return 0


def cmd_pipeline(args) -> int:
    """ingest -> tasker -> worker in one invocation (the three reference
    services as one idempotent batch pipeline)."""
    rc = cmd_ingest(args)
    if rc:
        return rc
    rc = cmd_tasker(args)
    if rc:
        return rc
    return cmd_worker(args)


def cmd_status(args) -> int:
    """Pipeline table depths — parity with the reference's SCard /
    ApproximateNumberOfMessages polling (ref internal/core/resource.go:105-108,
    pkg/aws/sqs.go:110-131): each table's rows, then the work queue
    (tasks - ledger - quarantine) and the live DLQ (quarantine - ledger)."""
    spark = get_spark("chyme_status")
    paths = {k: getattr(args, k) for k in ("catalog", "tasks", "ledger", "quarantine")}
    dfs = {k: tables.read(spark, k, p) if p else None for k, p in paths.items()}
    for kind, path in paths.items():
        if path:
            print(f"{kind:10s} {'-' if dfs[kind] is None else dfs[kind].count()}")
    if dfs["tasks"] is not None:
        queue = pending(spark, dfs["tasks"], args.ledger, args.quarantine)
        print(f"{'pending':10s} {queue.count()}")
    if dfs["quarantine"] is not None:
        dead = pending(spark, dfs["quarantine"], args.ledger, None)
        print(f"{'dead letters':10s} {dead.count()}")
    return 0


def cmd_compact(args) -> int:
    """Rewrite a parquet table into N files (small-files maintenance —
    at scale the difference between a healthy and a dying listing).

    LOCAL PATHS ONLY: the swap is an os-level directory rename. For
    object-store tables, write to a new prefix and flip the reader. The
    backup directory is kept until the post-swap verification read
    succeeds, so every failure mode leaves a recoverable copy (ADVICE r1).
    """
    spark = get_spark("chyme_compact")
    if "://" in args.table and not args.table.startswith("file://"):
        print("error: compact is local-filesystem-only (directory rename swap); "
              "for remote tables rewrite to a new prefix", file=sys.stderr)
        return 2
    table = args.table.removeprefix("file://")
    df = spark.read.parquet(table)
    n_before = len(df.inputFiles())
    n_rows = df.count()
    tmp = table.rstrip("/") + ".compact.tmp"
    if getattr(args, "zorder", None):
        from chyme_spark.layout import zorder_frame

        cols = [c.strip() for c in args.zorder.split(",") if c.strip()]
        zorder_frame(df, cols, args.target_files).write.mode("overwrite").parquet(tmp)
    else:
        df.coalesce(args.target_files).write.mode("overwrite").parquet(tmp)
    # verify row count before swapping
    if spark.read.parquet(tmp).count() != n_rows:
        print("error: compacted row count mismatch; leaving original untouched", file=sys.stderr)
        return 1
    import shutil

    backup = table.rstrip("/") + ".compact.bak"
    shutil.move(table, backup)
    shutil.move(tmp, table)
    try:
        n_after = len(spark.read.parquet(table).inputFiles())
    except Exception:  # noqa: BLE001 — swap verification failed: roll back
        shutil.move(table, tmp)
        shutil.move(backup, table)
        print("error: post-swap read failed; original restored", file=sys.stderr)
        return 1
    shutil.rmtree(backup)
    print(f"compacted {n_before} -> {n_after} files")
    return 0


def cmd_profile(args) -> int:
    """Per-column table profile: rows, null count, approx distinct,
    min/max — the data-quality snapshot a pipeline checks before and
    after a run. One aggregate pass (all columns in a single job), so
    cost is one table scan regardless of column count."""
    spark = get_spark("chyme_profile")
    df = spark.read.parquet(args.table)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in df.columns:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.approx_count_distinct(c).alias(f"{c}__distinct"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    n = row.pop("__rows")
    print(f"rows: {n}")
    print(f"{'column':24s} {'nulls':>8s} {'~distinct':>10s}  min / max")
    for c in df.columns:
        print(
            f"{c:24s} {row[f'{c}__nulls']:>8} {row[f'{c}__distinct']:>10}  "
            f"{row[f'{c}__min']} / {row[f'{c}__max']}"
        )
    return 0


def cmd_convert(args) -> int:
    """Format conversion (parquet <-> orc/json/csv): the interchange
    path of the load/store surface (sources.py)."""
    from chyme_spark.sources import read_table, write_table

    spark = get_spark("chyme_convert")
    try:
        df = read_table(spark, args.src, fmt=args.src_format)
        write_table(df, args.dst, fmt=args.dst_format)
    except NotImplementedError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    n = read_table(spark, args.dst, fmt=args.dst_format).count()
    print(f"wrote {n} rows to {args.dst} as {args.dst_format}")
    return 0


def _show_and_count(df, show: int) -> int:
    """Print ``show`` rows and the row count of ``df``; cached, since
    show + count would otherwise run the whole plan twice."""
    df = df.cache()
    try:
        df.show(show, truncate=False)
        print(f"{df.count()} rows")
    finally:
        df.unpersist()
    return 0


def cmd_query(args) -> int:
    from chyme_spark.registry import load_all

    registry = load_all()
    if args.name not in registry:
        print(f"unknown query {args.name!r}; see ls-queries", file=sys.stderr)
        return 2
    spark = get_spark("chyme_query")
    return _show_and_count(registry[args.name].fn(spark, args.sf), args.show)


def cmd_sql(args) -> int:
    """Ad-hoc SQL over the registered tables (the interactive query
    surface the reference never had — its only read path was the
    worker's queue drain, ref ``cmd/worker.go:117-127``)."""
    from chyme_spark.session import register_views

    spark = get_spark("chyme_sql")
    register_views(spark, args.sf)
    for extra in args.table or []:
        name, _, path = extra.partition("=")
        if not path:
            print(f"error: --table wants NAME=PATH, got {extra!r}", file=sys.stderr)
            return 2
        spark.read.parquet(path).createOrReplaceTempView(name)
    df = spark.sql(args.statement)
    if args.explain:
        df.explain("formatted")
    return _show_and_count(df, args.show)


def query_counts() -> tuple[int, int, int]:
    """(registered, oracle-checked, rows-only) — the single source for
    every scoreboard number (README asserts against this in tests)."""
    from chyme_spark.registry import load_all

    reg = load_all()
    n_oracle = sum(1 for q in reg.values() if q.oracle)
    return len(reg), n_oracle, len(reg) - n_oracle


def cmd_ls(args) -> int:
    from chyme_spark.registry import load_all

    for name, q in sorted(load_all().items()):
        kind = "oracle" if q.oracle else "rows-only"
        print(f"{name:28s} [{kind}] {q.doc.strip().splitlines()[0] if q.doc.strip() else ''}")
    total, n_oracle, n_rows_only = query_counts()
    print(f"-- {total} registered queries ({n_oracle} DuckDB-oracle hash-checked, "
          f"{n_rows_only} rows-only by design)")
    return 0


_DISTRIBUTED_LISTING_HELP = (
    "list a remote prefix (or local root) on executors through the "
    "chyme_listing source; without it a remote URL is treated as one object"
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="chyme-spark", description=__doc__)
    sub = ap.add_subparsers(dest="verb", required=True)

    p = sub.add_parser("ingest", help="scan + filter + dedup into the resource catalog")
    p.add_argument("root", help="directory, file://, or single object URL")
    p.add_argument("--filter", default="identity/", help="e.g. ext/mov or ext/mov/mp4")
    p.add_argument("--recursion", type=int, default=None, help="max listing depth")
    p.add_argument("--catalog", default=None,
                   help="catalog parquet dir (required unless --server)")
    p.add_argument("--distributed-listing", action="store_true",
                   help=_DISTRIBUTED_LISTING_HELP)
    p.add_argument("--follow", action="store_true",
                   help="streaming ingest: watch root for new arrivals (exactly-once)")
    p.add_argument("--follow-interval", default=None, metavar="'20 seconds'",
                   help="perpetual poll trigger; default drains once (availableNow)")
    p.add_argument("--follow-duration", type=float, default=None, metavar="SEC",
                   help="stop the perpetual poll after SEC seconds "
                        "(tests/bounded runs); matches worker --follow-duration")
    p.add_argument("--follow-checkpoint", default=None,
                   help="stream checkpoint dir (default: <catalog>_stream_ckpt)")
    p.add_argument("--append-only-keys", action="store_true",
                   help="s3 roots with lexically increasing keys: high-water-key "
                   "incremental listing (one empty page per unchanged poll)")
    p.add_argument("--s3-option", action="append", metavar="KEY=VALUE",
                   help="object-store option for --follow or --distributed-listing "
                   "(endpoint_override, access_key, ...); repeatable. Default: env "
                   "credential chain")
    p.add_argument("--server", default=None, metavar="URL",
                   help="client mode: POST the request to a running "
                        "`chyme-spark serve` instead of ingesting locally "
                        "(ref cmd/ingest.go client verb); --catalog is then "
                        "the server's concern")
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser("serve", help="HTTP ingest service: listen at /ingest (R39)")
    p.add_argument("--catalog", required=True, help="catalog parquet dir")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8080,
                   help="8080 matches the reference default (cmd/ingest.go:55)")
    p.add_argument("--distributed-listing", action="store_true",
                   help=_DISTRIBUTED_LISTING_HELP)
    p.add_argument("--serve-duration", type=float, default=None, metavar="SEC",
                   help="shut down after SEC seconds (tests/bounded runs)")
    p.set_defaults(fn=cmd_serve)

    p = sub.add_parser("tasker", help="expand catalog through templates into tasks")
    p.add_argument("--catalog", required=True)
    p.add_argument("--tasks", required=True)
    p.add_argument("--mirror-base", default=None, help="override template output base, e.g. file:///data/mirror")
    p.add_argument("--executor", default=None, help="override executor: noop|subprocess|docker")
    p.add_argument("--cmd", default=None, help="subprocess executor command ($IN/$OUT env)")
    p.set_defaults(fn=cmd_tasker)

    p = sub.add_parser("worker", help="execute tasks; append ledger + quarantine")
    p.add_argument("--tasks", required=True)
    p.add_argument("--ledger", required=True)
    p.add_argument("--quarantine", required=True)
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument("--follow", action="store_true",
                   help="consume the tasks table as a stream (drain-and-exit via AvailableNow)")
    p.add_argument("--follow-checkpoint", default=None,
                   help="stream checkpoint dir (default <tasks>_stream_ckpt)")
    p.add_argument("--follow-interval", default=None, metavar="INTERVAL",
                   help="with --follow: long-poll trigger, e.g. '20 seconds' "
                        "(ref worker/tasker poll loops); default drains and exits")
    p.add_argument("--follow-duration", type=float, default=None, metavar="SEC",
                   help="with --follow-interval: stop the poll loop after SEC "
                        "seconds (bounded runs / tests); default: until interrupted")
    p.add_argument("--checkpoint-dir", default=None,
                   help="durable workspace root enabling stage-level resume")
    p.add_argument("--redrive", action="store_true",
                   help="retry the dead letters too: quarantined tasks count as "
                        "pending for this batch verb (not with --follow)")
    p.set_defaults(fn=cmd_worker)

    p = sub.add_parser("pipeline", help="ingest + tasker + worker in one run")
    p.add_argument("root")
    p.add_argument("--filter", default="identity/")
    p.add_argument("--recursion", type=int, default=None)
    p.add_argument("--catalog", required=True)
    p.add_argument("--ledger", required=True)
    p.add_argument("--tasks", required=True)
    p.add_argument("--quarantine", required=True)
    p.add_argument("--mirror-base", default=None)
    p.add_argument("--executor", default=None)
    p.add_argument("--cmd", default=None)
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument("--checkpoint-dir", default=None)
    p.set_defaults(fn=cmd_pipeline)

    p = sub.add_parser("status", help="table depths: catalog/tasks/ledger/quarantine")
    p.add_argument("--catalog", default=None)
    p.add_argument("--tasks", default=None)
    p.add_argument("--ledger", default=None)
    p.add_argument("--quarantine", default=None)
    p.set_defaults(fn=cmd_status)

    p = sub.add_parser("compact", help="rewrite a parquet table into fewer files")
    p.add_argument("--table", required=True)
    p.add_argument("--target-files", type=int, default=1)
    p.add_argument("--zorder", metavar="C1,C2",
                   help="cluster the rewrite by the z-order of these numeric "
                        "columns (multi-column min/max pruning)")
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("query", help="run a registered query")
    p.add_argument("name")
    p.add_argument("--sf", default="/root/testdata/sf0.01")
    p.add_argument("--show", type=int, default=20)
    p.set_defaults(fn=cmd_query)

    p = sub.add_parser("profile", help="per-column stats for a parquet table")
    p.add_argument("--table", required=True)
    p.set_defaults(fn=cmd_profile)

    p = sub.add_parser("convert", help="convert a table between formats")
    p.add_argument("--src", required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--src-format", default="parquet")
    p.add_argument("--dst-format", default="orc")
    p.set_defaults(fn=cmd_convert)

    p = sub.add_parser("sql", help="run ad-hoc SQL over the registered tables")
    p.add_argument("statement")
    p.add_argument("--sf", default="/root/testdata/sf0.01")
    p.add_argument("--show", type=int, default=20)
    p.add_argument("--table", action="append", metavar="NAME=PATH",
                   help="register an extra parquet dir as a view (repeatable)")
    p.add_argument("--explain", action="store_true", help="print the physical plan first")
    p.set_defaults(fn=cmd_sql)

    p = sub.add_parser("ls-queries", help="list registered queries")
    p.set_defaults(fn=cmd_ls)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())

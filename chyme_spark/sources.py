"""Sources & sinks — the engine's load/store surface.

The reference's I/O surface is the S3 blob store wrapper (list /
download / upload / delete, single-object and prefix variants, ref
``pkg/aws/s3.go:28-39``) plus JSON documents on the SQS wire (ref
``pkg/aws/sqs.go:46``). The engine generalizes both: columnar formats
(parquet/orc) as the default, line formats (json/csv) for interchange,
``binaryFile`` for opaque blobs, and any ``scheme://`` the Hadoop
filesystem layer resolves (s3a, file, hdfs) — write targets are the
upload path, reads are the download path.

Malformed-record policy: the reference silently skips corrupt queue
messages (ref ``internal/core/task.go:98-101``); here PERMISSIVE mode
captures them in a ``_corrupt_record`` column and
:func:`split_corrupt` routes them to the quarantine table instead.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


# Formats/sources needing jars or services absent from this container,
# gated with actionable errors (the engine-level analog of the
# reference's pluggable loader registry, ref internal/core/loader.go:26-91)
_GATED_FORMATS = {
    "delta": "Delta Lake needs the delta-spark jars on the classpath "
    "(spark.jars.packages=io.delta:delta-spark_2.13:<ver> and the Delta "
    "catalog extensions); emulate MERGE with chyme_spark.merge meanwhile",
    "iceberg": "Apache Iceberg needs iceberg-spark-runtime jars and a catalog conf",
    "hudi": "Apache Hudi needs hudi-spark-bundle jars",
    "kafka": "Kafka source/sink needs spark-sql-kafka-0-10 jars and brokers; "
    "the file-source streaming path (ops/streaming.py) is the in-container equivalent",
    "jdbc": "JDBC needs a driver jar and a reachable database",
}


def _check_format(fmt: str) -> None:
    if fmt in _GATED_FORMATS:
        raise NotImplementedError(f"{fmt}: {_GATED_FORMATS[fmt]}")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Bulk store (ref upload ``internal/core/loader.go:199-286``).

    ``partition_by`` is the scale lever: a 100 TB table partitioned by a
    low-cardinality column (date, template, lang) turns downstream
    equality filters into partition pruning — entire directories are
    skipped at planning time.
    """
    _check_format(fmt)
    if fmt == "csv":
        options.setdefault("header", "true")
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Load (ref download ``internal/core/loader.go:148-195``).

    Always pass an explicit schema for line formats in production —
    inference costs an extra full scan and can silently widen types.
    """
    _check_format(fmt)
    if fmt == "csv":
        options.setdefault("header", "true")
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_json_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """PERMISSIVE JSON read that captures malformed lines instead of
    dropping them (fixes the reference's silent skip,
    ``internal/core/task.go:98-101``)."""
    # build a NEW StructType: StructType.add mutates the receiver in
    # place, so reusing the caller's schema object would append the
    # corrupt column to it (duplicated on a second call) — round-6 review
    fields = [f for f in schema.fields if f.name != CORRUPT_COL]
    full_schema = T.StructType([*fields, T.StructField(CORRUPT_COL, T.StringType(), True)])
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the corrupt column, quarantine rows).

    The quarantine frame always has the single-column
    ``(_corrupt_record string)`` schema in BOTH branches, so quarantine
    outputs from different reads union cleanly (round-6 review). The
    PERMISSIVE branch caches ``df`` (Spark requires it before filtering
    on the parse-time corrupt column); callers that keep the session
    long-lived should unpersist the inputs after materializing."""
    if CORRUPT_COL not in df.columns:
        empty_bad = df.limit(0).select(
            F.lit(None).cast("string").alias(CORRUPT_COL)
        )
        return df, empty_bad
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return clean, bad


# ---------------------------------------------------------------------------
# chyme_listing: the recursive object lister as a first-class Spark data
# source (Python Data Source API, Spark 4). Parity: the reference's BFS
# lister + errgroup per-prefix fan-out (ref pkg/aws/s3.go:63-80, 311-338)
# becomes `spark.read.format("chyme_listing").options(...)` — planning
# (one driver page of top-level entries -> InputPartitions), execution
# (catalog.walk over each partition's prefixes on executors), and schema
# all inside Spark's own source machinery. The driver-side
# catalog.list_files runs the same page and the same walk.
# ---------------------------------------------------------------------------

try:  # Python Data Source API needs pyspark >= 4.0
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    # the default of the retired per-prefix fan-out: enough tasks to
    # spread a wide bucket over a cluster, few enough that each task's
    # fixed cost stays small next to its listing
    _MAX_LISTING_PARTITIONS = 64

    class _ListingPartition(InputPartition):
        def __init__(self, dirs: list, rows: list):
            self.dirs = dirs  # subdirectory paths the executor walks
            self.rows = rows  # top-level file rows the driver already listed

    def _s3_opts_from(options: dict) -> dict:
        """Extract ``s3.<key>`` reader options into S3FileSystem kwargs
        (the data-source channel for explicit credentials/endpoint —
        options travel through Spark, env chains don't reach Python
        workers)."""
        return {k[3:]: v for k, v in options.items() if k.startswith("s3.")}

    class ListingReader(DataSourceReader):
        """Batch face of the lister. :meth:`partitions` lists the root's
        own page on the driver (``catalog.list_top``): its file rows
        travel in one partition, and its subdirectories are dealt into
        at most ``_MAX_LISTING_PARTITIONS`` partitions, which
        :meth:`read` walks on executors with ``catalog.walk`` — the
        walk ``catalog.list_files`` runs on the driver."""

        def __init__(self, options: dict):
            from chyme_spark.catalog import open_listing

            root = options.get("path") or options.get("root")
            if not root:
                raise ValueError("chyme_listing requires option 'path'")
            self.max_depth = int(options["depth"]) if options.get("depth") else None
            # opened on the driver's node, so a relative root resolves
            # there; the filesystem pickles into every read task
            self.fs, self.scheme, self.base = open_listing(root, _s3_opts_from(options))
            self.url_prefixes: list[str] = []

        def pushFilters(self, filters):
            """Filter pushdown (Spark 4.1 Python DS API): URL-prefix
            predicates (``col("url").startswith(p)``) are the lister's
            native filter — a prefix IS an object-store list key, the
            reference's ``--prefix`` argument (ref pkg/aws/s3.go:63-80).
            Accepted prefixes prune whole subtree partitions in
            partitions() and are re-enforced exactly per url in read(),
            so they are CONSUMED here (not returned to Spark). At 100 TB
            of bucket metadata this is the difference between listing
            one subtree and listing everything to filter later.
            Everything else (other columns, other operators) is yielded
            back for Spark to evaluate post-scan."""
            from pyspark.sql.datasource import StringStartsWith

            for f in filters:
                if isinstance(f, StringStartsWith) and tuple(f.attribute) == ("url",):
                    self.url_prefixes.append(f.value)
                else:
                    yield f

        def _subtree_may_match(self, url: str) -> bool:
            # pushed prefixes are ANDed: every prefix must be compatible
            # with this directory's subtree (directory under prefix, or
            # prefix deeper inside the directory)
            return all(url.startswith(p) or p.startswith(url) for p in self.url_prefixes)

        def _url_passes(self, url: str) -> bool:
            return all(url.startswith(p) for p in self.url_prefixes)

        def partitions(self):
            from chyme_spark.catalog import list_top

            rows, dirs = list_top(self.fs, self.scheme, self.base, self.max_depth)
            rows = [r for r in rows if self._url_passes(r[0])]
            dirs = [d for d in dirs if self._subtree_may_match(f"{self.scheme}://{d}")]
            n = min(len(dirs), _MAX_LISTING_PARTITIONS)
            parts = [_ListingPartition(dirs[i::n], []) for i in range(n)]
            if rows or not parts:
                parts.append(_ListingPartition([], rows))
            return parts

        def read(self, partition):
            from chyme_spark.catalog import walk

            yield from partition.rows
            for row in walk(self.fs, self.scheme, self.base, partition.dirs, self.max_depth):
                if self._url_passes(row[0]):
                    yield row

    class ListingStreamReader(SimpleDataSourceStreamReader):
        """Streaming face of the lister: each micro-batch emits the
        files that ARRIVED since the last offset — the reference's
        perpetual ingest/tasker poll loop (ref ``cmd/tasker.go:85-99``)
        as a first-class streaming source instead of a sleep loop.

        Offset = ``{"m": <max mtime_ms>, "at": [urls at that mtime]}``:
        a file is new iff its mtime is past the watermark, or equal to
        it but not in the boundary set — so same-millisecond arrivals
        are neither dropped nor duplicated. The offset stays O(files in
        one millisecond), not O(history).

        Incremental listing: the reader memoizes each directory's
        ``(mtime_ns, file rows, subdirs)``. A micro-batch walks the
        directory TREE; a directory whose mtime is unchanged since the
        memo reuses its memoized children without a listing call, paying
        only one batched stat for fresh subdir mtimes — so a batch over
        an unchanged tree costs O(directories) stats and ZERO file
        listings instead of O(files). The reference's poll loop re-lists
        everything every tick (ref ``cmd/tasker.go:85-99``); at 100 M
        objects that full re-list is the bottleneck this prunes away.

        Safety rules that keep the memo exact:

        * a memo is trusted only once the directory's mtime is older
          than ``_SLACK_NS`` — directory timestamps have coarse
          granularity, so a file landing in the same clock tick as the
          listing could otherwise be missed forever;
        * a directory entry without an mtime (object stores synthesize
          prefix entries; pyarrow reports ``mtime_ns None``) is never
          memoized — those subtrees fall back to a real listing;
        * in-place modification of an existing file does not bump the
          parent directory mtime and is NOT an arrival — object-store
          parity (S3 objects are immutable; the reference likewise keys
          on object creation).

        A fresh reader (query restart) starts with a cold memo: the
        first batch is a full listing and the offset filter keeps
        exactly-once delivery, so the memo is a pure I/O optimization
        with no correctness footprint.

        **Object stores (``appendOnlyKeys`` high-water mode).** The memo
        above is inert on S3: prefixes are synthesized list-time with no
        mtime (pyarrow reports ``mtime_ns None``), so every micro-batch
        would degrade to a full re-list — the reference's flaw
        (ref ``cmd/tasker.go:85-99``) exactly where it hurts most
        (100 M-object buckets). There is no server-side "changed since"
        filter in the S3 list API; the public incremental-listing
        strategy (same contract as Databricks Auto Loader's
        ``cloudFiles.useIncrementalListing``) is lexicographic: when the
        producer writes keys in lexically increasing order (date/time-
        prefixed paths, ULIDs — the normal log-ingest layout), the
        offset can be the **high-water KEY**, and each micro-batch is a
        single ``ListObjectsV2`` page train with ``StartAfter=<high
        water>``. Unchanged bucket ⇒ ONE empty-page API call, zero
        object re-listing, regardless of bucket size; and pagination is
        followed (``ContinuationToken``) — fixing the reference's
        truncation-at-1000-keys bug (ref ``pkg/aws/s3.go:354``).

        Enable with ``.option("appendOnlyKeys", "true")`` on an s3://
        root (credentials/endpoint via ``s3.<opt>`` options). The offset
        is the key itself, so a query restart resumes from the
        checkpoint with NO cold-start full re-list — strictly better
        than the memo path. Without the option, s3 roots stay on the
        always-correct full-listing path (arrival order unconstrained).
        """

        _SLACK_NS = 2_000_000_000  # trust memos only past this age (2 s)

        def __init__(self, options: dict):
            self.root = options.get("path") or options.get("root")
            if not self.root:
                raise ValueError("chyme_listing requires option 'path'")
            self.max_depth = int(options["depth"]) if options.get("depth") else None
            self.s3_opts = _s3_opts_from(options)
            append_only = str(
                options.get("appendOnlyKeys") or options.get("appendonlykeys") or ""
            ).lower() in ("true", "1", "yes")
            scheme = self.root.split("://", 1)[0] if "://" in self.root else "file"
            self.key_mode = append_only and scheme in ("s3", "s3a")
            if append_only and not self.key_mode:
                raise ValueError(
                    "appendOnlyKeys is an object-store option (s3:// roots); "
                    "local/hdfs roots already list incrementally via dir-mtime memos"
                )
            # dir path -> (mtime_ns, [file rows], [(subdir path, mtime_ns)])
            self._memo: dict[str, tuple[int, list, list]] = {}
            self.n_dir_lists = 0  # instrumentation: non-recursive listings issued
            self.n_dir_stats = 0  # instrumentation: batched stat calls issued
            self.n_api_calls = 0  # instrumentation: key-mode ListObjectsV2 calls

        # -- appendOnlyKeys high-water path (object stores) ----------------

        def _s3_client(self):
            try:
                import boto3
            except ImportError as e:  # pragma: no cover
                raise NotImplementedError(
                    "appendOnlyKeys incremental listing needs boto3 for "
                    "StartAfter-paged ListObjectsV2 (pyarrow's S3 filesystem "
                    "exposes no list cursor); pip install boto3 or drop the option"
                ) from e
            o = self.s3_opts
            kwargs = {}
            if o.get("endpoint_override"):
                ep = o["endpoint_override"]
                kwargs["endpoint_url"] = ep if "://" in ep else f"http://{ep}"
            if o.get("region"):
                kwargs["region_name"] = o["region"]
            if o.get("access_key"):
                kwargs["aws_access_key_id"] = o["access_key"]
            if o.get("secret_key"):
                kwargs["aws_secret_access_key"] = o["secret_key"]
            if o.get("session_token"):
                kwargs["aws_session_token"] = o["session_token"]
            return boto3.client("s3", **kwargs)

        def _list_after(self, start_key: str, stop_key: str | None = None):
            """Keys lexically after ``start_key`` (and <= ``stop_key`` if
            given), in order, as (url, size, mtime_ms, key, keep)
            tuples — paginated; directory markers and depth-excluded
            keys carry keep=False (they still advance the high-water
            offset, or a deep subtree past the high water would be
            re-listed on every poll)."""
            bucket, _, prefix = self.root.split("://", 1)[1].partition("/")
            prefix = prefix.rstrip("/")
            pfx = f"{prefix}/" if prefix else ""
            base_slashes = pfx.count("/")
            client = self._s3_client()
            kwargs = {"Bucket": bucket, "Prefix": pfx}
            if start_key:
                kwargs["StartAfter"] = start_key
            while True:
                self.n_api_calls += 1
                page = client.list_objects_v2(**kwargs)
                for obj in page.get("Contents", []):
                    key = obj["Key"]
                    if stop_key is not None and key > stop_key:
                        return
                    keep = not key.endswith("/") and not (  # dir markers
                        self.max_depth is not None
                        and key.count("/") - base_slashes > self.max_depth
                    )
                    mtime_ms = int(obj["LastModified"].timestamp() * 1000)
                    yield (f"s3://{bucket}/{key}", obj["Size"], mtime_ms, key, keep)
                token = page.get("NextContinuationToken")
                if not token:  # the reference never follows this (s3.go:354)
                    return
                kwargs["ContinuationToken"] = token

        def _list(self):
            """Walk the tree through the directory-mtime memo; yields
            (url, size, mtime) rows under the batch listers' root and row
            rules (``catalog.open_listing``, ``catalog._listed``)."""
            import time

            from pyarrow import fs as pafs

            from chyme_spark.catalog import _listed, _row, open_listing

            fs, scheme, base = open_listing(self.root, self.s3_opts)
            base_depth = base.count("/")
            now_ns = time.time_ns()

            def row(info) -> tuple:
                url, size, mtime = _row(scheme, info)
                return url, size, mtime or 0  # the offsets compare mtimes

            def list_dir(path):
                """One non-recursive listing -> (file rows, subdirs with mtimes)."""
                self.n_dir_lists += 1
                files, subs = [], []
                for i in fs.get_file_info(pafs.FileSelector(path, recursive=False)):
                    if _listed(scheme, i):
                        if (
                            self.max_depth is not None
                            and (i.path.count("/") - base_depth - 1) > self.max_depth
                        ):
                            continue
                        files.append(row(i))
                    elif i.type == pafs.FileType.Directory:
                        subs.append((i.path, i.mtime_ns))
                return files, subs

            self.n_dir_stats += 1
            root_info = fs.get_file_info(base)
            if root_info.type == pafs.FileType.File:  # a one-file root lists as that file
                if _listed(scheme, root_info):
                    yield row(root_info)
                return
            stack = [(base, root_info.mtime_ns)]
            while stack:
                path, mtime = stack.pop()
                memo = self._memo.get(path)
                if memo is not None and mtime is not None and memo[0] == mtime:
                    files, subs = memo[1], memo[2]
                    if subs:  # refresh subdir mtimes: one batched stat, no listing
                        self.n_dir_stats += 1
                        fresh = fs.get_file_info([p for p, _ in subs])
                        subs = [
                            (i.path, i.mtime_ns)
                            for i in fresh
                            if i.type == pafs.FileType.Directory
                        ]
                else:
                    files, subs = list_dir(path)
                    # memoize only listings taken comfortably AFTER the
                    # dir's last mtime tick: a file landing in the same
                    # coarse tick as the listing leaves the mtime
                    # unchanged, and a memo recorded then would mask the
                    # arrival forever. The slack guard must run at
                    # RECORD time, not reuse time (round-6 review).
                    if mtime is not None and mtime + self._SLACK_NS < now_ns:
                        self._memo[path] = (mtime, files, subs)
                yield from files
                for sub in subs:
                    # a subtree whose shallowest files already exceed the
                    # depth bound is pruned without ever being listed
                    if (
                        self.max_depth is not None
                        and (sub[0].count("/") - base_depth) > self.max_depth
                    ):
                        continue
                    stack.append(sub)

        def initialOffset(self) -> dict:
            return {"k": ""} if self.key_mode else {"m": -1, "at": []}

        def read(self, start: dict):
            if self.key_mode:
                rows = list(self._list_after(start.get("k", "")))
                if not rows:
                    return iter([]), start
                # iter over a materialized list, never a generator:
                # Spark's prefetching reader copy()s the record iterator
                # for offset-replay, and list_iterators are copyable;
                # the offset advances past EVERY seen key (kept or not)
                return iter([r[:3] for r in rows if r[4]]), {"k": rows[-1][3]}
            rows = [
                r
                for r in self._list()
                if r[2] > start["m"] or (r[2] == start["m"] and r[0] not in start["at"])
            ]
            if not rows:
                return iter([]), start
            m = max(r[2] for r in rows + [(None, None, start["m"])])
            at = [r[0] for r in rows if r[2] == m] + (start["at"] if m == start["m"] else [])
            return iter(rows), {"m": m, "at": sorted(at)}

        def readBetweenOffsets(self, start: dict, end: dict):
            # replay for recovery: everything past `start` up to `end`
            if self.key_mode:
                return iter([
                    r[:3]
                    for r in self._list_after(start.get("k", ""), stop_key=end.get("k", ""))
                    if r[4]
                ])
            return iter(
                r
                for r in self._list()
                if (r[2] > start["m"] or (r[2] == start["m"] and r[0] not in start["at"]))
                and (r[2] < end["m"] or (r[2] == end["m"] and r[0] in end["at"]))
            )

    class ListingDataSource(DataSource):
        """``spark.read.format("chyme_listing").option("path", root)``
        -> ``(url string, size long, mtime long)``; also a streaming
        source (``spark.readStream.format("chyme_listing")``) emitting
        newly-arrived files per micro-batch.

        Options: ``path`` (required), ``depth`` (optional recursion
        bound, reference ``--recursion`` parity). Register once per
        session with :func:`register_listing_source`.
        """

        @classmethod
        def name(cls) -> str:
            return "chyme_listing"

        def schema(self) -> str:
            return "url string, size long, mtime long"

        def reader(self, schema):
            return ListingReader(self.options)

        def simpleStreamReader(self, schema):
            return ListingStreamReader(self.options)

    def register_listing_source(spark: SparkSession) -> None:
        # the Python-DS pushdown planner path is opt-in (Spark 4.1);
        # without it a reader implementing pushFilters() is rejected
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(ListingDataSource)

    # -----------------------------------------------------------------
    # chyme_jsonl_sink: Python Data Source STREAMING WRITER (Spark 4) —
    # the foreachBatch-free custom sink surface. Parity: the reference
    # worker's result-upload stage writes task outputs then marks the
    # task done exactly once under at-least-once redelivery (ref
    # internal/core/task.go:157-179, internal/worker/persistance.go:
    # 25-69); here the same contract is expressed through Spark's own
    # sink commit protocol instead of hand-rolled markers.
    #
    # Exactly-once design (the part that matters at 100 TB):
    #   * write() (executors, one call per partition per micro-batch)
    #     stages rows to a uniquely-named JSONL file and returns the
    #     name in its commit message — a failed/retried task's orphan
    #     file is never referenced again;
    #   * commit() (driver, once per micro-batch) appends ONE manifest
    #     line {batchId, files} — and skips if this batchId is already
    #     present, which is precisely what makes a checkpoint-replayed
    #     micro-batch idempotent;
    #   * readers consume ONLY manifest-listed files, so partial output
    #     from an aborted batch is invisible (abort() additionally
    #     deletes the staged files).
    # -----------------------------------------------------------------
    from pyspark.sql.datasource import DataSourceStreamWriter, WriterCommitMessage

    @dataclass
    class _SinkCommit(WriterCommitMessage):
        files: list

    def _manifest(path: str) -> list[dict]:
        """The sink's committed entries ``{batchId, files}``, oldest first."""
        import json as _json

        manifest = os.path.join(path, "_manifest.jsonl")
        if not os.path.exists(manifest):
            return []
        with open(manifest) as f:
            return [_json.loads(ln) for ln in f]

    def _publish(path: str, batch_id, messages, overwrite: bool = False) -> None:
        """The one manifest-commit rule of both writers: publish the
        staged files of ``messages`` as one manifest line, unless
        ``batch_id`` (a micro-batch id or a job id) is already there — a
        replayed or retried commit is a no-op. ``overwrite`` deletes the
        previously committed files and truncates the manifest in the
        same step."""
        import json as _json

        prior = _manifest(path)
        if any(e["batchId"] == batch_id for e in prior):
            return
        if overwrite:
            for e in prior:
                for fn in e["files"]:
                    if os.path.exists(fn):
                        os.remove(fn)
        files = sorted(f for m in messages for f in m.files)
        with open(os.path.join(path, "_manifest.jsonl"), "w" if overwrite else "a") as f:
            f.write(_json.dumps({"batchId": batch_id, "files": files}) + "\n")

    class _JsonlSinkWriter(DataSourceStreamWriter):
        def __init__(self, options: dict):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("chyme_jsonl_sink requires option 'path'")
            os.makedirs(os.path.join(self.path, "staging"), exist_ok=True)

        def write(self, iterator):
            import json as _json
            import uuid as _uuid

            fname = os.path.join(
                self.path, "staging", f"part-{_uuid.uuid4().hex}.jsonl"
            )
            n = 0
            with open(fname, "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict(), default=str) + "\n")
                    n += 1
            if n == 0:
                os.remove(fname)  # no empty-file litter from idle partitions
                return _SinkCommit(files=[])
            return _SinkCommit(files=[fname])

        def commit(self, messages, batchId):
            _publish(self.path, batchId, messages)

        def abort(self, messages, batchId):
            for m in messages:
                for fn in m.files:
                    if os.path.exists(fn):
                        os.remove(fn)

    from pyspark.sql.datasource import DataSourceWriter

    class _JsonlBatchWriter(DataSourceWriter):
        """Batch form of the same sink: write() stages per-partition
        files exactly like the stream writer; commit() runs once for
        the whole job and writes one manifest line. Completes the
        Python Data Source matrix — batch read, stream read, stream
        write, batch write — on one format.

        Each JOB gets a unique manifest id (minted on the driver at
        plan time), so a retried commit of the same job is idempotent
        while a second intentional append job accumulates — the batchId
        analog for jobs. ``mode("overwrite")`` truncates the manifest
        (and deletes previously committed files) inside commit(), i.e.
        atomically with publishing the new files: readers never observe
        a half-replaced directory."""

        def __init__(self, options: dict, overwrite: bool):
            import uuid as _uuid

            self._w = _JsonlSinkWriter(options)
            self.overwrite = overwrite
            self.job_id = f"job-{_uuid.uuid4().hex}"

        def write(self, iterator):
            return self._w.write(iterator)

        def commit(self, messages):
            _publish(self._w.path, self.job_id, messages, self.overwrite)

        def abort(self, messages):
            self._w.abort(messages, batchId=self.job_id)

    class JsonlSinkDataSource(DataSource):
        """``df.writeStream.format("chyme_jsonl_sink").option("path", d)``
        (or ``df.write`` for the batch form) — exactly-once JSONL
        directory sink via the Python Data Source writer API. Committed
        rows are the manifest-listed files: :func:`read_jsonl_sink`
        reads them back."""

        @classmethod
        def name(cls) -> str:
            return "chyme_jsonl_sink"

        def streamWriter(self, schema, overwrite):
            return _JsonlSinkWriter(self.options)

        def writer(self, schema, overwrite):
            return _JsonlBatchWriter(self.options, overwrite)

    def register_jsonl_sink(spark: SparkSession) -> None:
        spark.dataSource.register(JsonlSinkDataSource)

    def read_jsonl_sink(spark: SparkSession, path: str, schema: str) -> DataFrame:
        """Read back ONLY the committed (manifest-listed) sink files."""
        files = [fn for e in _manifest(path) for fn in e["files"]]
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).json(files)

except ImportError:  # pragma: no cover — pyspark < 4.0
    ListingDataSource = None  # type: ignore[assignment]
    JsonlSinkDataSource = None  # type: ignore[assignment]

    def register_listing_source(spark: SparkSession) -> None:
        raise NotImplementedError("chyme_listing needs pyspark >= 4.0 (Python Data Source API)")

    def register_jsonl_sink(spark: SparkSession) -> None:
        raise NotImplementedError("chyme_jsonl_sink needs pyspark >= 4.0 (Python Data Source API)")

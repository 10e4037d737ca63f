"""Resource catalog — the engine's replacement for the reference's
Redis resource SET (ref ``internal/core/resource.go:36-108``).

A catalog is just a DataFrame with the resource schema; ``ingest``
reproduces the reference's scan -> filter -> dedup -> store pipeline
(ref ``internal/ingest/service.go:42-119``) as one declarative plan:
the filter is part of the scan (pushdown), dedup is a hash aggregate,
and the bulk store is a parquet append — no Redis, no RESP subprocess
(ref ``internal/core/resource.go:89-103``).

Fixes baked in (SURVEY §2A quirks list):
  * rejected single resources never null-deref (the filter simply
    yields 0 rows);
  * ingest returns rows *inserted*, not total set cardinality
    (ref bug ``internal/ingest/service.go:114-118``);
  * malformed URLs are quarantined, not silently dropped
    (ref ``internal/core/resource.go:66-70``).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chyme_spark.filters import compile_filter

# `scheme://authority/key` — same shape the reference parses with
# net/url (ref internal/core/resource.go:15-24). The authority (bucket)
# may be empty: Hadoop renders local paths as `file:/tmp/x` which we
# normalize to `file:///tmp/x`.
_SCHEME_RE = r"^([a-z][a-z0-9+.-]*)://"
_BUCKET_RE = r"^[a-z][a-z0-9+.-]*://([^/]*)/"
_KEY_RE = r"^[a-z][a-z0-9+.-]*://[^/]*/(.+)$"
# list_files' rows; mtime is epoch milliseconds
_LISTING_SCHEMA = pa.schema([("url", pa.string()), ("size", pa.int64()), ("mtime", pa.int64())])


def with_resource_columns(urls: DataFrame, phony: bool = False) -> DataFrame:
    """Annotate a (url STRING, ...) DataFrame with the resource schema.

    resource_hash = sha1(url) — identical identity rule to the reference
    (ref ``internal/core/resource.go:27-34``, ``pkg/hash/hash.go:18-24``).
    """
    normalized = F.regexp_replace("url", r"^([a-z][a-z0-9+.-]*):/(?!/)", "$1:///")
    return (
        urls.withColumn("url", normalized)
        .withColumn("scheme", F.regexp_extract("url", _SCHEME_RE, 1))
        .withColumn("bucket", F.regexp_extract("url", _BUCKET_RE, 1))
        .withColumn("key", F.regexp_extract("url", _KEY_RE, 1))
        .withColumn("ext", F.lower(F.regexp_extract("url", r"\.([A-Za-z0-9]+)$", 1)))
        .withColumn("phony", F.lit(phony))
        .withColumn("resource_hash", F.sha1(F.col("url")))
    )


def well_formed() -> Column:
    """True for an annotated row with a scheme and a non-empty key; never
    NULL. NULL urls yield NULL predicates, and a plain filter/~filter
    pair drops NULL rows from BOTH outputs — the exact silent-vanish
    :func:`split_malformed` exists to prevent; coalesce pins them to
    quarantine (round-6 review)."""
    return F.coalesce((F.col("scheme") != "") & (F.col("key") != ""), F.lit(False))


def split_malformed(catalog: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(well-formed, quarantine) — needs a scheme and a non-empty key."""
    is_valid = well_formed()
    return catalog.filter(is_valid), catalog.filter(~is_valid)


def _resolve_fs(url: str, s3_options: dict | None = None):
    """(filesystem, path) for a URL — the one rule every lister and
    loader resolves through.

    The path is the RAW text after ``scheme://``, never URI-parsed, for
    ``file://`` and for ``s3``/``s3a`` with explicit options: the listers
    write URLs as ``scheme://`` + raw path (:func:`_row`), so a space,
    ``%``, ``#`` or ``?`` in a name round-trips instead of being decoded,
    rejected or cut off as a fragment. Trailing slashes are dropped.
    Every other scheme (ambient-credential s3, hdfs) goes through
    ``FileSystem.from_uri``.

    Explicit ``s3_options`` (a dict of ``pyarrow.fs.S3FileSystem``
    kwargs — endpoint_override, access_key, role_arn, ...) override the
    ambient env/instance-profile chain, the engine-side hook for the
    reference's credential bootstrap (R40, ref ``cmd/util.go:21-57``).
    A plain dict, so it pickles cleanly into executor closures."""
    scheme, _, raw = url.partition("://")
    if scheme == "file":
        return pafs.LocalFileSystem(), raw.rstrip("/") or "/"
    if s3_options and scheme in ("s3", "s3a"):
        return pafs.S3FileSystem(**s3_options), raw.rstrip("/")
    return pafs.FileSystem.from_uri(url)


def open_listing(root: str, s3_options: dict | None = None):
    """(filesystem, scheme, base path) for a listing root. A root with no
    scheme is a local path, made absolute first as Hadoop would resolve
    it against the working directory (pyarrow rejects relative file
    URIs)."""
    if "://" not in root:
        root = "file://" + os.path.abspath(root)
    fs, base = _resolve_fs(root, s3_options)
    return fs, root.split("://", 1)[0], base.rstrip("/")


def _listed(scheme: str, info) -> bool:
    # Hadoop's LocalFileSystem hides its checksum side files
    # (`.<name>.crc`); the catalog never saw them, so neither do we
    name = info.base_name
    return info.type == pafs.FileType.File and not (
        scheme == "file" and name.startswith(".") and name.endswith(".crc")
    )


def _row(scheme: str, info) -> tuple:
    # some filesystems omit mtimes; FileInfo.mtime_ns is then None
    mtime = info.mtime_ns // 1_000_000 if info.mtime_ns is not None else None
    return (f"{scheme}://{info.path}", info.size, mtime)


def list_top(fs, scheme: str, base: str, max_depth: int | None = None) -> tuple[list, list]:
    """The root's own page: (file rows at depth 0, subdirectory paths,
    none when ``max_depth`` < 1). A root that is one file lists as that
    file."""
    root = fs.get_file_info(base)
    if root.type == pafs.FileType.File:
        infos = [root]
    else:
        infos = fs.get_file_info(pafs.FileSelector(base))
    rows = [_row(scheme, i) for i in infos if _listed(scheme, i)]
    if max_depth is not None and max_depth < 1:
        return rows, []
    return rows, [i.path for i in infos if i.type == pafs.FileType.Directory]


def walk(fs, scheme: str, base: str, dirs, max_depth: int | None = None):
    """Yield (url, size, mtime) for every file under ``dirs`` — paths
    of subdirectories of ``base`` — at most ``max_depth`` levels below
    ``base`` (its own files are level 0). The recursion half of the
    lister, shared by :func:`list_files` on the driver and the
    ``chyme_listing`` source on executors."""
    base_depth = base.count("/")
    for d in dirs:
        for i in fs.get_file_info(pafs.FileSelector(d, recursive=True)):
            if _listed(scheme, i) and (
                max_depth is None or i.path.count("/") - base_depth - 1 <= max_depth
            ):
                yield _row(scheme, i)


def list_files(spark, root: str, max_depth: int | None = None) -> DataFrame:
    """Recursive object listing -> (url, size, mtime) local relation.

    Parity with the reference's BFS lister (ref ``pkg/aws/s3.go:63-80``,
    ``311-338``) including its ``--recursion`` depth bound — but with
    correct pagination (pyarrow's filesystems page internally; the
    reference dropped its ContinuationToken, ref ``pkg/aws/s3.go:344-356``).

    The walk runs on the driver (it is metadata, same as Spark's own
    file index), and its rows reach Spark as one Arrow table: the plan
    is a ``LocalTableScan``, so a scan of the listing starts no Python
    worker (a list of tuples would be a pickled Python RDD). An empty
    root gives zero rows with the same schema. For buckets with
    millions of prefixes read the ``chyme_listing`` source instead: it
    runs the same walk on executors, one share of the top-level
    prefixes per partition.
    """
    fs, scheme, base = open_listing(root)
    rows, dirs = list_top(fs, scheme, base, max_depth)
    rows.extend(walk(fs, scheme, base, dirs, max_depth))
    columns = list(zip(*rows)) or [()] * len(_LISTING_SCHEMA)
    arrays = [pa.array(c, f.type) for c, f in zip(columns, _LISTING_SCHEMA)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=_LISTING_SCHEMA))


def ingest(urls: DataFrame, filter_string: str = "identity/") -> DataFrame:
    """scan -> predicate -> dedup, as one narrow-then-aggregate plan.

    The only shuffle is the dedup on ``url``; at scale that is a hash
    repartition of (short) URL strings, and AQE coalesces the output.
    """
    catalog = with_resource_columns(urls)
    good, _quarantine = split_malformed(catalog)
    return good.filter(compile_filter(filter_string)).dropDuplicates(["url"])

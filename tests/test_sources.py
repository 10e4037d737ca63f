"""Source/sink round-trips and malformed-record quarantine (SURVEY §1.3)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from chyme_spark.sources import read_json_with_quarantine, read_table, split_corrupt, write_table

ROWS = [(1, "a.mov", 3.5), (2, "b.mp4", -1.25), (3, None, 0.0)]
SCHEMA = "id long, name string, score double"


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip(spark, tmp_path, fmt):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / fmt)
    write_table(df, path, fmt=fmt)
    back = read_table(spark, path, fmt=fmt, schema=SCHEMA)
    assert sorted(map(tuple, back.collect())) == sorted(ROWS)


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA).withColumn(
        "bucket", F.when(F.col("id") < 3, "lo").otherwise("hi")
    )
    path = str(tmp_path / "part")
    write_table(df, path, partition_by=["bucket"])
    back = read_table(spark, path).filter(F.col("bucket") == "lo")
    assert back.count() == 2
    plan = back._jdf.queryExecution().executedPlan().toString()
    # equality filter on the partition column must prune at planning time
    assert "PartitionFilters: [" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]


def test_json_quarantine_captures_malformed(spark, tmp_path):
    p = tmp_path / "in.json"
    p.write_text('{"id": 1, "name": "ok"}\n{"id": broken!!\n{"id": 2, "name": "ok2"}\n')
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    df = read_json_with_quarantine(spark, str(p), schema)
    clean, bad = split_corrupt(df)
    assert {r.id for r in clean.collect()} == {1, 2}
    assert bad.count() == 1  # reference silently dropped it (task.go:98-101)
    # the caller's schema object must be untouched (StructType.add
    # mutates in place — round-6 review) and repeat reads stay stable
    assert [f.name for f in schema.fields] == ["id", "name"]
    df2 = read_json_with_quarantine(spark, str(p), schema)
    assert df2.columns == ["id", "name", "_corrupt_record"]
    # both split_corrupt branches produce union-compatible quarantine
    clean_only, empty_bad = split_corrupt(clean)
    assert empty_bad.columns == bad.columns
    assert empty_bad.unionByName(bad).count() == 1


def _deep_tree(tmp_path):
    root = tmp_path / "tree"
    for rel in ["a/b/c", "a/d", "e"]:
        (root / rel).mkdir(parents=True, exist_ok=True)
    for rel, size in {
        "top.txt": 3, "a/one.txt": 5, "a/b/two.txt": 7,
        "a/b/c/three.txt": 11, "a/d/four.txt": 13, "e/five.txt": 17,
        # a Hadoop checksum side file: hidden from every listing
        "a/.x.mov.crc": 19,
    }.items():
        (root / rel).write_bytes(b"x" * size)
    return root


def _expected(root, depth=None) -> set:
    """(url, size, mtime ms) of every non-checksum file at most `depth`
    levels below `root`, straight from os.walk."""
    import os

    out = set()
    for d, _subdirs, names in os.walk(root):
        level = os.path.relpath(d, root).count(os.sep) + (d != str(root))
        for n in names:
            if (depth is not None and level > depth) or (n.startswith(".") and n.endswith(".crc")):
                continue
            st = os.stat(os.path.join(d, n))
            out.add((f"file://{d}/{n}", st.st_size, st.st_mtime_ns // 1_000_000))
    return out


def test_distributed_listing_matches_driver_listing(spark, tmp_path):
    """list_files (driver), the chyme_listing source (executors) and the
    streaming reader's first batch share one set of root and row rules:
    all must list exactly the expected files for every depth bound and
    root form — plain, file:// and relative roots, a root that is a
    single file — and hide `.<name>.crc` checksum files, as Hadoop's
    local filesystem did. The tree sits under a directory whose name
    holds a space and a `#`: a root is a raw path, never a parsed URI."""
    import os

    from chyme_spark.catalog import list_files
    from chyme_spark.sources import ListingStreamReader, register_listing_source

    root = _deep_tree(tmp_path / "my tree #1")
    # relative to the working directory the session (and its Python
    # workers) started in
    rel = os.path.relpath(root)
    register_listing_source(spark)

    def source(_spark, r, depth):
        rd = spark.read.format("chyme_listing").option("path", r)
        if depth is not None:
            rd = rd.option("depth", str(depth))
        return rd.load().collect()

    def driver(_spark, r, depth):
        return list_files(spark, r, depth).collect()

    def stream(_spark, r, depth):
        options = {"path": r} if depth is None else {"path": r, "depth": str(depth)}
        reader = ListingStreamReader(options)
        rows, _offset = reader.read(reader.initialOffset())
        return list(rows)

    for depth in (None, 0, 1, 2):
        want = _expected(root, depth)
        for r in (str(root), f"file://{root}", rel):
            for lister in (driver, source, stream):
                got = {tuple(row) for row in lister(spark, r, depth)}
                assert got == want, (lister, r, depth)
    assert {u.rsplit("/", 1)[-1] for u, _s, _m in _expected(root)} == {
        "top.txt", "one.txt", "two.txt", "three.txt", "four.txt", "five.txt",
    }

    one = root / "a" / "b" / "two.txt"
    want = {(f"file://{one}", 7, one.stat().st_mtime_ns // 1_000_000)}
    for r in (str(one), f"file://{one}", f"{rel}/a/b/two.txt"):
        for lister in (driver, source, stream):
            assert {tuple(row) for row in lister(spark, r, None)} == want, (lister, r)


def test_listing_datasource_matches_driver_listing(spark, tmp_path):
    """The Python Data Source (chyme_listing) yields the identical
    (url,size,mtime) set as the driver-side lister, including the
    --recursion depth bound, with the per-prefix recursion planned as
    executor input partitions."""
    from chyme_spark.catalog import list_files
    from chyme_spark.sources import register_listing_source

    root = tmp_path / "tree"
    for rel in ["a/b", "c", ""]:
        (root / rel).mkdir(parents=True, exist_ok=True)
    for rel, size in {"top.mov": 3, "a/mid.mp4": 5, "a/b/deep.mov": 7, "c/x.log": 11}.items():
        (root / rel).write_bytes(b"x" * size)

    register_listing_source(spark)
    for depth in (None, 0, 1):
        rd = spark.read.format("chyme_listing").option("path", str(root))
        if depth is not None:
            rd = rd.option("depth", str(depth))
        ds = {tuple(r) for r in rd.load().collect()}
        drv = {tuple(r) for r in list_files(spark, str(root), depth).collect()}
        assert ds == drv, f"depth={depth}"
    # one partition per subdirectory (a, c) plus one for the top-level files
    df = spark.read.format("chyme_listing").option("path", str(root)).load()
    assert df.rdd.getNumPartitions() == 3


def test_listing_source_deals_prefixes_into_partitions(tmp_path):
    """Planning: top-level files ride in ONE partition (the driver has
    already listed them) and subdirectories are dealt over at most 64
    partitions — not one Spark task per top-level entry."""
    from chyme_spark.sources import ListingReader

    root = tmp_path / "wide"
    for i in range(3):
        (root / f"d{i}").mkdir(parents=True)
        (root / f"d{i}" / "f.bin").write_bytes(b"x")
    for i in range(40):
        (root / f"f{i}.bin").write_bytes(b"x")
    parts = ListingReader({"path": str(root)}).partitions()
    assert len(parts) == 4
    assert sorted(len(p.rows) for p in parts) == [0, 0, 0, 40]
    assert sorted(d for p in parts for d in p.dirs) == [f"{root}/d{i}" for i in range(3)]

    for i in range(3, 100):
        (root / f"d{i}").mkdir()
    parts = ListingReader({"path": str(root)}).partitions()
    assert len(parts) == 65 and sum(len(p.dirs) for p in parts) == 100


def test_listing_stream_reader_skips_unchanged_dirs(tmp_path):
    """Incremental listing: a micro-batch over an UNCHANGED tree issues
    zero directory listings (memo reuse + batched stats only); a new
    arrival re-lists exactly the one directory it landed in. This is
    the O(changed)-per-batch contract that replaces the reference's
    full re-list poll loop (cmd/tasker.go:85-99)."""
    import os
    import time

    from chyme_spark.sources import ListingStreamReader

    root = tmp_path / "tree"
    (root / "a" / "b").mkdir(parents=True)
    (root / "c").mkdir()
    for rel in ["top.mov", "a/mid.mp4", "a/b/deep.mov", "c/x.log"]:
        (root / rel).write_bytes(b"x" * 8)
    # age directory mtimes past the memo slack so memos are trusted
    old = time.time() - 60
    for d in [root, root / "a", root / "a" / "b", root / "c"]:
        os.utime(d, (old, old))

    r = ListingStreamReader({"path": str(root)})
    rows1, off1 = r.read(r.initialOffset())
    assert len(list(rows1)) == 4
    assert r.n_dir_lists == 4  # cold memo: every directory listed once

    rows2, off2 = r.read(off1)
    assert list(rows2) == []
    assert r.n_dir_lists == 4  # unchanged tree: ZERO new listings
    assert off2 == off1

    time.sleep(0.05)  # distinct mtime millisecond for the arrival
    (root / "a" / "new.mov").write_bytes(b"y" * 8)
    os.utime(root / "a", (old + 1, old + 1))  # aged but != memoized mtime
    rows3, off3 = r.read(off2)
    assert [u.rsplit("/", 1)[-1] for u, _s, _m in rows3] == ["new.mov"]
    assert r.n_dir_lists == 5  # exactly ONE directory re-listed

    rows4, _ = r.read(off3)
    assert list(rows4) == []
    assert r.n_dir_lists == 5


def test_listing_datasource_streams_new_arrivals(spark, tmp_path):
    """chyme_listing as a STREAMING source: each drain emits only files
    that arrived since the last committed offset (the reference's
    perpetual ingest poll as a Structured Streaming source)."""
    from chyme_spark.sources import register_listing_source

    root = tmp_path / "inbox"
    root.mkdir()
    (root / "a.mov").write_bytes(b"A" * 10)
    register_listing_source(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("chyme_listing")
            .option("path", str(root))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = {r.url.rsplit("/", 1)[-1] for r in spark.read.parquet(out).collect()}
    assert first == {"a.mov"}

    import time

    time.sleep(0.05)  # distinct mtime millisecond for the second arrival
    (root / "b.mp4").write_bytes(b"B" * 20)
    drain()
    rows = spark.read.parquet(out).collect()
    names = sorted(r.url.rsplit("/", 1)[-1] for r in rows)
    assert names == ["a.mov", "b.mp4"]  # no duplicates, only the new file added

    # nothing new -> a third drain appends nothing
    drain()
    assert spark.read.parquet(out).count() == 2


def test_append_only_keys_rejected_on_local_roots(tmp_path):
    """appendOnlyKeys is an object-store contract; a local root gets a
    clean error (the dir-mtime memo already lists incrementally there)."""
    import pytest as _pytest

    from chyme_spark.sources import ListingStreamReader

    with _pytest.raises(ValueError, match="object-store"):
        ListingStreamReader({"path": str(tmp_path), "appendOnlyKeys": "true"})


def test_list_files_depth_bound_uri_and_plain_roots(spark, tmp_path):
    """max_depth must bind identically for 'file:///x' and plain '/x'
    roots — the raw-string slash count loosened URI roots by 2
    (round-6 review)."""
    from chyme_spark.catalog import list_files

    root = tmp_path / "tree"
    (root / "a" / "b").mkdir(parents=True)
    (root / "top.mov").write_bytes(b"x")
    (root / "a" / "mid.mov").write_bytes(b"x")
    (root / "a" / "b" / "deep.mov").write_bytes(b"x")
    for r in (str(root), f"file://{root}"):
        names = {
            u.rsplit("/", 1)[-1]
            for u in (row["url"] for row in list_files(spark, r, 0).collect())
        }
        assert names == {"top.mov"}, r
        names1 = {
            u.rsplit("/", 1)[-1]
            for u in (row["url"] for row in list_files(spark, r, 1).collect())
        }
        assert names1 == {"top.mov", "mid.mov"}, r


def test_list_files_empty_root_keeps_schema(spark, tmp_path):
    """An empty root lists as zero rows with the listing's columns."""
    from chyme_spark.catalog import list_files

    (tmp_path / "empty").mkdir()
    df = list_files(spark, str(tmp_path / "empty"))
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<url:string,size:bigint,mtime:bigint>"


def test_list_files_is_a_local_relation(spark, tmp_path):
    """The listing reaches Spark as a local relation: its executed plan
    scans no Python RDD (`Scan ExistingRDD`), so a scan of it starts no
    Python worker."""
    from chyme_spark.catalog import list_files

    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.mov").write_bytes(b"x")
    (tmp_path / "y.mp4").write_bytes(b"yy")
    df = list_files(spark, str(tmp_path)).filter("size > 0")
    assert df.count() == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan


def test_jsonl_sink_commit_idempotent_and_abort_cleans(spark, tmp_path):
    """chyme_jsonl_sink exactly-once contract, unit level: (a) a
    replayed commit with the same batchId appends NOTHING (manifest
    stays one line — checkpoint-replay idempotence); (b) abort()
    deletes staged files; (c) readback sees ONLY manifest-listed files,
    so orphans from failed attempts are invisible."""
    import json

    from chyme_spark.sources import _JsonlSinkWriter, _SinkCommit, read_jsonl_sink

    dest = str(tmp_path / "sink")
    w = _JsonlSinkWriter({"path": dest})

    staged = tmp_path / "sink" / "staging" / "part-test.jsonl"
    staged.write_text('{"event_id": 1, "event_type": "view", "value": 1.5}\n')
    msg = _SinkCommit(files=[str(staged)])

    w.commit([msg], batchId=0)
    w.commit([msg], batchId=0)  # replay: must be a no-op
    manifest = tmp_path / "sink" / "_manifest.jsonl"
    lines = manifest.read_text().splitlines()
    assert len(lines) == 1 and json.loads(lines[0])["batchId"] == 0

    # an orphan staged file (failed attempt, never committed) is invisible
    orphan = tmp_path / "sink" / "staging" / "part-orphan.jsonl"
    orphan.write_text('{"event_id": 99, "event_type": "x", "value": 0.0}\n')
    back = read_jsonl_sink(
        spark, dest, "event_id long, event_type string, value double"
    )
    assert [r.event_id for r in back.collect()] == [1]

    # abort removes its staged files
    w.abort([_SinkCommit(files=[str(orphan)])], batchId=1)
    assert not orphan.exists()


def test_jsonl_sink_stream_write_equals_source(spark, sf_dir):
    """End-to-end through Spark's sink commit protocol: every source row
    lands in committed files exactly once."""
    from chyme_spark.registry import load_all

    reg = load_all()
    out = {
        (r.event_type, r.n_events)
        for r in reg["x_datasource_stream_write"].fn(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        (r.event_type, r.n)
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert out == want


def test_listing_pushdown_prunes_subtrees_and_matches(spark, tmp_path):
    """pushFilters (Spark 4.1 Python DS API): a url-startswith predicate
    must (a) prune sibling subtree partitions at planning time and
    (b) return exactly the same rows as post-hoc filtering."""
    from chyme_spark.sources import ListingReader, register_listing_source
    from pyspark.sql.datasource import EqualTo, StringStartsWith

    root = tmp_path / "data"
    for sub, n in (("a", 3), ("b", 2), ("c", 4)):
        d = root / sub
        d.mkdir(parents=True)
        for i in range(n):
            (d / f"f{i}.bin").write_bytes(b"x" * (i + 1))

    # unit level: partitions prune to the matching subtree only
    r = ListingReader({"path": str(root)})
    prefix = f"file://{root}/a"
    leftover = list(r.pushFilters([StringStartsWith(("url",), prefix)]))
    assert leftover == []  # consumed: enforced natively
    assert [(p.dirs, p.rows) for p in r.partitions()] == [([f"{root}/a"], [])]

    # unsupported filters are yielded back to Spark untouched
    r2 = ListingReader({"path": str(root)})
    eq = EqualTo(("size",), 2)
    assert list(r2.pushFilters([eq])) == [eq]
    assert len(r2.partitions()) == 3

    # end-to-end: pushed plan returns the same rows as the unfiltered
    # scan filtered post-hoc
    register_listing_source(spark)
    df = spark.read.format("chyme_listing").option("path", str(root)).load()
    pushed = {
        (row.url, row.size)
        for row in df.filter(F.col("url").startswith(prefix)).collect()
    }
    want = {
        (row.url, row.size)
        for row in df.collect()
        if row.url.startswith(prefix)
    }
    assert pushed == want and len(pushed) == 3


def test_jsonl_sink_batch_append_accumulates_overwrite_replaces(spark, tmp_path):
    """Batch-writer job semantics: two append jobs accumulate rows;
    an overwrite job atomically replaces everything committed before
    it (manifest truncated, prior files deleted)."""
    from chyme_spark.sources import read_jsonl_sink, register_jsonl_sink

    register_jsonl_sink(spark)
    dest = str(tmp_path / "bsink")
    a = spark.createDataFrame([(1, 10.0)], "k long, v double")
    b = spark.createDataFrame([(2, 20.0)], "k long, v double")
    c = spark.createDataFrame([(3, 30.0)], "k long, v double")

    a.write.format("chyme_jsonl_sink").option("path", dest).mode("append").save()
    b.write.format("chyme_jsonl_sink").option("path", dest).mode("append").save()
    got = {r.k for r in read_jsonl_sink(spark, dest, "k long, v double").collect()}
    assert got == {1, 2}

    c.write.format("chyme_jsonl_sink").option("path", dest).mode("overwrite").save()
    got = {r.k for r in read_jsonl_sink(spark, dest, "k long, v double").collect()}
    assert got == {3}
    # prior committed files physically gone (no orphan litter)
    import json as _json

    manifest = tmp_path / "bsink" / "_manifest.jsonl"
    lines = [_json.loads(ln) for ln in manifest.read_text().splitlines()]
    assert len(lines) == 1
    staged = list((tmp_path / "bsink" / "staging").iterdir())
    assert {str(p) for p in staged} == set(lines[0]["files"])

"""Real object-store semantics end-to-end (VERDICT r3 item 1 of the
environment gaps): a live S3 API (moto server) underneath the exact
code paths production would use — prefix listing, chunked/multipart
transfers, credential conf — instead of the file:// stand-ins.

Covers reference behavior ``pkg/aws/s3.go:82-205`` (download/upload/
exists/delete), ``:311-338`` (recursive prefix listing), and the R40
credential bootstrap (explicit options instead of the env chain,
``cmd/util.go:21-57``).

moto quirk, patched in the fixture: moto 5.2 serializes
CompleteMultipartUpload with root element
``CompleteMultipartUploadResponse``; real S3 (and aws-sdk-cpp, which is
pyarrow's S3 client) use ``CompleteMultipartUploadResult``. boto3
tolerates the wrong root, Arrow rejects the 200 as an embedded error —
so the fixture rewrites the root element to the wire-correct name and
everything else is stock moto.
"""

from __future__ import annotations

import pytest

moto = pytest.importorskip("moto")
boto3 = pytest.importorskip("boto3")

BUCKET = "chyme-e2e"


@pytest.fixture(scope="module")
def s3():
    """(endpoint_url, boto3 client, pyarrow s3_options) against a live
    moto server, with the multipart-complete root-element fix."""
    from moto.core.responses import BaseResponse
    from moto.server import ThreadedMotoServer

    orig = BaseResponse.serialized

    def wire_correct(self, action_result):
        status, headers, body = orig(self, action_result)
        fix = (
            ("CompleteMultipartUploadResponse", "CompleteMultipartUploadResult")
            if isinstance(body, str)
            else (b"CompleteMultipartUploadResponse", b"CompleteMultipartUploadResult")
        )
        if fix[0] in body:
            body = body.replace(*fix)
        return status, headers, body

    BaseResponse.serialized = wire_correct
    server = ThreadedMotoServer(ip_address="127.0.0.1", port=0)
    server.start()
    try:
        host, port = server.get_host_and_port()
        endpoint = f"http://{host}:{port}"
        client = boto3.client(
            "s3",
            endpoint_url=endpoint,
            region_name="us-east-1",
            aws_access_key_id="testing",
            aws_secret_access_key="testing",
        )
        client.create_bucket(Bucket=BUCKET)
        s3_options = {
            "access_key": "testing",
            "secret_key": "testing",
            "endpoint_override": endpoint,
            "region": "us-east-1",
        }
        yield endpoint, client, s3_options
    finally:
        server.stop()
        BaseResponse.serialized = orig


def _seed_media(client) -> dict[str, bytes]:
    objects = {
        "media/a.mov": b"A" * 100,
        "media/deep/b.mp4": b"B" * 50,
        "media/deep/deeper/c.mov": b"C" * 25,
        "media/skip.log": b"z",
    }
    for key, body in objects.items():
        client.put_object(Bucket=BUCKET, Key=key, Body=body)
    return objects


def test_arrowfs_loader_roundtrip_multipart(s3, tmp_path):
    """download (chunked) / upload (multipart) / exists / delete against
    live S3 semantics, including a payload larger than the loader's
    8 MiB chunk size so the read loop takes more than one pass."""
    endpoint, client, opts = s3
    from chyme_spark.runner import ArrowFsLoader

    big = bytes(range(256)) * (40 * 1024)  # 10 MiB
    client.put_object(Bucket=BUCKET, Key="rt/in/big.bin", Body=big)
    client.put_object(Bucket=BUCKET, Key="rt/in/small.bin", Body=b"tiny")

    loader = ArrowFsLoader(s3_options=opts)
    dl_dir = tmp_path / "dl"
    dl_dir.mkdir()
    n = loader.download(f"s3://{BUCKET}/rt/in", str(dl_dir))
    assert n == len(big) + 4
    assert (dl_dir / "big.bin").read_bytes() == big
    assert (dl_dir / "small.bin").read_bytes() == b"tiny"

    n_up = loader.upload(str(dl_dir), f"s3://{BUCKET}/rt/out")
    assert n_up == len(big) + 4
    echoed = client.get_object(Bucket=BUCKET, Key="rt/out/big.bin")["Body"].read()
    assert echoed == big

    assert loader.exists(f"s3://{BUCKET}/rt/out/big.bin")
    loader.delete(f"s3://{BUCKET}/rt/out/big.bin")
    assert not loader.exists(f"s3://{BUCKET}/rt/out/big.bin")


def _listing(spark, root: str, opts: dict):
    """The chyme_listing source over an object-store root, with explicit
    credentials/endpoint as ``s3.<key>`` options (no env dependence)."""
    from chyme_spark.sources import register_listing_source

    register_listing_source(spark)
    rd = spark.read.format("chyme_listing").option("path", root)
    for k, v in opts.items():
        rd = rd.option(f"s3.{k}", v)
    return rd.load()


def test_distributed_listing_over_s3(s3, spark):
    """The chyme_listing source walks each prefix on executors with
    explicit credentials in the pickled filesystem."""
    _endpoint, client, opts = s3
    objects = _seed_media(client)

    rows = {
        r["url"]: r["size"]
        for r in _listing(spark, f"s3://{BUCKET}/media", opts).collect()
    }
    expected = {f"s3://{BUCKET}/{k}": len(v) for k, v in objects.items()}
    assert rows == expected


def test_pipeline_over_s3_objects(s3, spark, tmp_path):
    """ingest -> tasker -> worker where every OBJECT lives in S3 (the
    tables stay local parquet, matching the reference: its tables were
    Redis/SQS, its objects S3). Exercises listing, template fan-out to
    s3:// output URLs, executor-side multipart upload of results and
    metadata, and idempotent re-run."""
    _endpoint, client, opts = s3
    _seed_media(client)
    from chyme_spark.catalog import ingest
    from chyme_spark.runner import loaders_with_credentials, run_tasks
    from chyme_spark.tasker import create_tasks
    from chyme_spark.templates import DEFAULT_TEMPLATES, with_overrides

    urls = _listing(spark, f"s3://{BUCKET}/media", opts).select("url")
    catalog = ingest(urls, "ext/mov/mp4")
    assert catalog.count() == 3  # skip.log filtered out

    templates = with_overrides(
        DEFAULT_TEMPLATES,
        mirror_base=f"s3://{BUCKET}/mirror",
        executor="subprocess",
        cmd='for f in "$IN"/*; do wc -c < "$f" > "$OUT/$(basename $f).size"; done',
    )
    tasks = create_tasks(catalog, None, templates)
    results = run_tasks(tasks, loaders=loaders_with_credentials(opts)).cache()
    assert results.filter("NOT ok").count() == 0
    assert results.count() == 3

    # the transcode-analog output and the metadata objects landed in S3
    listed = client.list_objects_v2(Bucket=BUCKET, Prefix="mirror/")
    contents = listed.get("Contents", [])
    keys = [o["Key"] for o in contents]
    # no zero-byte directory-marker pollution (reference parity: plain
    # PUTs only, ref pkg/aws/s3.go:91-162) — pyarrow's create_dir would
    # emit "<prefix>/" markers; ArrowFsLoader.upload must not call it
    # on object stores
    markers = [o["Key"] for o in contents if o["Size"] == 0 or o["Key"].endswith("/")]
    assert markers == []
    assert sum(k.endswith(".size") for k in keys) == 3
    assert sum("/metadata/" in k for k in keys) == 3
    # spot-check content: "100\n" for the 100-byte a.mov
    out_key = next(k for k in keys if k.endswith("a.mov/a.mov.size"))
    assert client.get_object(Bucket=BUCKET, Key=out_key)["Body"].read().strip() == b"100"

    # idempotence: a ledger built from the results blanks the re-run
    ledger = results.filter("ok").select("task_hash")
    assert create_tasks(catalog, ledger, templates).count() == 0


def test_tar_archive_roundtrip_over_s3(s3, tmp_path):
    """dir -> s3 .tar object -> dir, streamed through the multipart
    upload path (no local tar temp file) — the reference's declared
    .tar cases (internal/core/loader.go:169,258) against live S3."""
    import tarfile as tarlib

    _endpoint, client, opts = s3
    from chyme_spark.runner import ArrowFsLoader

    ld = ArrowFsLoader(s3_options=opts)
    work = tmp_path / "dash"
    work.mkdir()
    big = bytes(range(256)) * (36 * 1024)  # 9 MiB: multipart on upload
    (work / "manifest.mpd").write_bytes(b"M" * 64)
    (work / "video.m4s").write_bytes(big)

    url = f"s3://{BUCKET}/archives/result.tar"
    assert ld.upload(str(work), url) == 64 + len(big)
    body = client.get_object(Bucket=BUCKET, Key="archives/result.tar")["Body"].read()
    with tarlib.open(fileobj=__import__("io").BytesIO(body)) as tf:
        assert sorted(m.name for m in tf) == ["manifest.mpd", "video.m4s"]

    back = tmp_path / "back"
    back.mkdir()
    assert ld.download(url, str(back)) == 64 + len(big)
    assert (back / "video.m4s").read_bytes() == big


def test_stream_reader_high_water_key_mode(s3):
    """appendOnlyKeys incremental listing on a real S3 API: the offset
    is the high-water KEY, so a micro-batch over an UNCHANGED bucket
    costs exactly ONE ListObjectsV2 call returning an empty page —
    never a re-list of the 100 M-object history (the reference re-lists
    everything every tick, cmd/tasker.go:85-99). Pagination is followed
    (ContinuationToken — the reference's 1000-key truncation bug,
    pkg/aws/s3.go:354, fixed here)."""
    _endpoint, client, opts = s3
    from chyme_spark.sources import ListingStreamReader

    # lexically increasing arrivals: date-partitioned log layout
    for key in ["logs/2026/01/a.mov", "logs/2026/01/b.mp4", "logs/2026/02/c.mov"]:
        client.put_object(Bucket=BUCKET, Key=key, Body=b"x" * 9)

    r = ListingStreamReader(
        {
            "path": f"s3://{BUCKET}/logs",
            "appendOnlyKeys": "true",
            **{f"s3.{k}": v for k, v in opts.items()},
        }
    )
    rows1, off1 = r.read(r.initialOffset())
    urls1 = [u.rsplit("/", 1)[-1] for u, _s, _m in rows1]
    assert urls1 == ["a.mov", "b.mp4", "c.mov"]
    assert off1 == {"k": "logs/2026/02/c.mov"}
    first_calls = r.n_api_calls

    # unchanged bucket: ONE empty-page call, offset unchanged
    rows2, off2 = r.read(off1)
    assert list(rows2) == []
    assert off2 == off1
    assert r.n_api_calls == first_calls + 1

    # a lexically-later arrival is picked up without touching history
    client.put_object(Bucket=BUCKET, Key="logs/2026/03/d.mov", Body=b"y" * 4)
    rows3, off3 = r.read(off2)
    assert [u.rsplit("/", 1)[-1] for u, _s, _m in rows3] == ["d.mov"]
    assert off3 == {"k": "logs/2026/03/d.mov"}
    assert r.n_api_calls == first_calls + 2

    # recovery replay between committed offsets is exact
    replay = [u.rsplit("/", 1)[-1] for u, _s, _m in r.readBetweenOffsets(off2, off3)]
    assert replay == ["d.mov"]

    # restart resumes from the checkpointed offset with NO cold re-list
    r2 = ListingStreamReader(
        {
            "path": f"s3://{BUCKET}/logs",
            "appendOnlyKeys": "true",
            **{f"s3.{k}": v for k, v in opts.items()},
        }
    )
    rows4, _ = r2.read(off3)
    assert list(rows4) == []
    assert r2.n_api_calls == 1


def test_stream_reader_key_mode_depth_bound(s3):
    """--recursion parity in key mode: keys deeper than the bound are
    filtered client-side without affecting the high-water offset."""
    _endpoint, client, opts = s3
    from chyme_spark.sources import ListingStreamReader

    for key in ["dpth/a.mov", "dpth/x/b.mov", "dpth/x/y/c.mov"]:
        client.put_object(Bucket=BUCKET, Key=key, Body=b"d")
    r = ListingStreamReader(
        {
            "path": f"s3://{BUCKET}/dpth",
            "appendOnlyKeys": "true",
            "depth": "1",
            **{f"s3.{k}": v for k, v in opts.items()},
        }
    )
    rows, off = r.read(r.initialOffset())
    assert [u.rsplit("/", 1)[-1] for u, _s, _m in rows] == ["a.mov", "b.mov"]
    # the offset advances past the filtered deep key too — a deep
    # subtree beyond the high water must not be re-listed every poll
    assert off == {"k": "dpth/x/y/c.mov"}
    rows2, off2 = r.read(off)
    assert list(rows2) == []
    assert off2 == off


def test_key_mode_streaming_query_end_to_end(s3, spark, tmp_path):
    """appendOnlyKeys mode through a real Structured Streaming query:
    offsets are committed to the checkpoint, a second drain picks up
    only the lexically-later arrival, a third appends nothing."""
    _endpoint, client, opts = s3
    from chyme_spark.sources import register_listing_source

    for key in ["inbox/2026/01/a.mov", "inbox/2026/02/b.mp4"]:
        client.put_object(Bucket=BUCKET, Key=key, Body=b"x" * 7)
    register_listing_source(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        rd = (
            spark.readStream.format("chyme_listing")
            .option("path", f"s3://{BUCKET}/inbox")
            .option("appendOnlyKeys", "true")
        )
        for k, v in opts.items():
            rd = rd.option(f"s3.{k}", v)
        q = (
            rd.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    names = sorted(r.url.rsplit("/", 1)[-1] for r in spark.read.parquet(out).collect())
    assert names == ["a.mov", "b.mp4"]

    client.put_object(Bucket=BUCKET, Key="inbox/2026/03/c.mov", Body=b"y" * 3)
    drain()
    names = sorted(r.url.rsplit("/", 1)[-1] for r in spark.read.parquet(out).collect())
    assert names == ["a.mov", "b.mp4", "c.mov"]  # no duplicates

    drain()
    assert spark.read.parquet(out).count() == 3


def test_cli_streaming_ingest_append_only_keys(s3, spark, tmp_path):
    """The full user path: `ingest s3://... --follow --append-only-keys
    --s3-option ...` catalogs arrivals from live S3 with high-water-key
    offsets committed to the stream checkpoint across drains."""
    _endpoint, client, opts = s3
    from chyme_spark import cli

    for key in ["cliinbox/2026/01/a.mov", "cliinbox/2026/01/skip.log"]:
        client.put_object(Bucket=BUCKET, Key=key, Body=b"x" * 5)
    cat = str(tmp_path / "catalog")
    args = [
        "ingest", f"s3://{BUCKET}/cliinbox", "--filter", "ext/mov/mp4",
        "--catalog", cat, "--follow", "--append-only-keys",
    ] + [x for k, v in opts.items() for x in ("--s3-option", f"{k}={v}")]
    assert cli.main(args) == 0
    names = sorted(r.url.rsplit("/", 1)[-1] for r in spark.read.parquet(cat).collect())
    assert names == ["a.mov"]  # .log filtered inside the micro-batch

    client.put_object(Bucket=BUCKET, Key="cliinbox/2026/02/b.mp4", Body=b"y" * 3)
    assert cli.main(args) == 0
    names = sorted(r.url.rsplit("/", 1)[-1] for r in spark.read.parquet(cat).collect())
    assert names == ["a.mov", "b.mp4"]


def test_cli_distributed_listing_ingest_reads_s3_options(s3, spark, tmp_path):
    """`ingest s3://... --distributed-listing --s3-option ...` hands the
    endpoint and credentials to the executor-side lister, so the batch
    verb catalogs the seeded objects from live S3 (no env credentials)."""
    _endpoint, client, opts = s3
    objects = _seed_media(client)
    from chyme_spark import cli

    cat = str(tmp_path / "catalog")
    args = [
        "ingest", f"s3://{BUCKET}/media", "--filter", "ext/mov/mp4",
        "--catalog", cat, "--distributed-listing",
    ] + [x for k, v in opts.items() for x in ("--s3-option", f"{k}={v}")]
    assert cli.main(args) == 0
    urls = sorted(r.url for r in spark.read.parquet(cat).collect())
    assert urls == sorted(f"s3://{BUCKET}/{k}" for k in objects if not k.endswith(".log"))


def test_stream_reader_key_mode_pagination(s3):
    """ContinuationToken is followed across pages (>1000 keys) — the
    reference truncates at one page (pkg/aws/s3.go:354)."""
    _endpoint, client, opts = s3
    from chyme_spark.sources import ListingStreamReader

    for i in range(1005):
        client.put_object(Bucket=BUCKET, Key=f"big/{i:05d}.bin", Body=b"z")
    r = ListingStreamReader(
        {
            "path": f"s3://{BUCKET}/big",
            "appendOnlyKeys": "true",
            **{f"s3.{k}": v for k, v in opts.items()},
        }
    )
    rows, off = r.read(r.initialOffset())
    assert len(list(rows)) == 1005
    assert off == {"k": "big/01004.bin"}
    assert r.n_api_calls == 2  # two pages, token followed


def test_key_mode_kill_restart_resumes_from_checkpoint(s3, spark, tmp_path):
    """VERDICT r5 item 5: kill a RUNNING key-mode stream query and
    restart from its checkpoint. (a) Exactly-once: no duplicate and no
    missing keys across the kill. (b) Restart cost is O(pages of NEW
    keys): the resumed reader never cold-start re-lists history —
    proven at the reader level with >1000 post-checkpoint arrivals
    (exactly 2 ListObjectsV2 pages, never 3+ for the history)."""
    _endpoint, client, opts = s3
    from chyme_spark.sources import ListingStreamReader, register_listing_source

    for key in ["resume/000001.mov", "resume/000002.mov"]:
        client.put_object(Bucket=BUCKET, Key=key, Body=b"x" * 5)
    register_listing_source(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def reader():
        rd = (
            spark.readStream.format("chyme_listing")
            .option("path", f"s3://{BUCKET}/resume")
            .option("appendOnlyKeys", "true")
        )
        for k, v in opts.items():
            rd = rd.option(f"s3.{k}", v)
        return rd.load()

    # long-running poll query (processingTime trigger, the perpetual
    # ingest mode), killed mid-run after the first batch commits
    q = (
        reader()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    q.processAllAvailable()
    q.stop()  # the kill: offsets for batch 0 are committed in ckpt
    names = sorted(r.url.rsplit("/", 1)[-1] for r in spark.read.parquet(out).collect())
    assert names == ["000001.mov", "000002.mov"]

    # arrivals while the query is down
    for key in ["resume/000003.mov", "resume/000004.mov"]:
        client.put_object(Bucket=BUCKET, Key=key, Body=b"y" * 3)

    # restart from the SAME checkpoint: picks up exactly the new keys
    q2 = (
        reader()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    names = sorted(r.url.rsplit("/", 1)[-1] for r in spark.read.parquet(out).collect())
    assert names == [f"00000{i}.mov" for i in (1, 2, 3, 4)]  # no dup, none missing

    # (b) API-cost bound on resume, reader-level (instrumentation lives
    # in-process): a fresh reader resumed at the committed high-water
    # key with 1200 newer keys pays ceil(1200/1000)=2 calls — O(pages
    # of new keys), regardless of history size
    for i in range(5, 1205):
        client.put_object(Bucket=BUCKET, Key=f"resume/{i:06d}.mov", Body=b"z")
    r2 = ListingStreamReader(
        {
            "path": f"s3://{BUCKET}/resume",
            "appendOnlyKeys": "true",
            **{f"s3.{k}": v for k, v in opts.items()},
        }
    )
    rows, off = r2.read({"k": "resume/000004.mov"})
    assert len(list(rows)) == 1200
    assert off == {"k": "resume/001204.mov"}
    assert r2.n_api_calls == 2

    # and an unchanged bucket after resume stays ONE empty call
    rows2, off2 = r2.read(off)
    assert list(rows2) == [] and off2 == off
    assert r2.n_api_calls == 3

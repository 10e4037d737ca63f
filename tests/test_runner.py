"""End-to-end worker parity: the 6-stage machine over real file://
resources executed distributed via mapInPandas (SURVEY §2A R22-R34)."""

from __future__ import annotations

import os

from chyme_spark.catalog import with_resource_columns
from chyme_spark.runner import run_tasks
from chyme_spark.templates import Template, expand


def _mk_inputs(tmp_path, n=3):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(n):
        (src / f"clip_{i}.mov").write_bytes(b"MOV" * (10 + i))
    return src


def _templates(tmp_path):
    out_root = tmp_path / "mirror"
    t = Template(
        name="mov",
        ext="mov",
        mirror_base=f"file://{out_root}",
        image="none",
        executor="subprocess",
        extra_config={"cmd": 'for f in "$IN"/*; do wc -c < "$f" > "$OUT/$(basename $f).size"; done'},
    )
    return (t,), out_root


def test_worker_end_to_end(spark, tmp_path):
    src = _mk_inputs(tmp_path)
    urls = spark.createDataFrame(
        [(f"file://{src}/{n}",) for n in sorted(os.listdir(src))], "url string"
    )
    catalog = with_resource_columns(urls)
    templates, out_root = _templates(tmp_path)
    tasks = expand(catalog, templates)
    results = run_tasks(tasks).collect()
    assert len(results) == 3
    assert all(r.ok and r.stage == "complete" for r in results)
    assert all(r.bytes_in > 0 and r.bytes_out > 0 for r in results)
    # outputs actually landed: one .size file per input under the mirror
    produced = []
    for root, _dirs, files in os.walk(out_root):
        produced += [f for f in files if f.endswith(".size")]
    assert len(produced) == 3


def test_worker_failure_quarantines_with_stage(spark, tmp_path):
    src = _mk_inputs(tmp_path, n=1)
    urls = spark.createDataFrame([(f"file://{src}/clip_0.mov",)], "url string")
    catalog = with_resource_columns(urls)
    templates, _ = _templates(tmp_path)
    from dataclasses import replace
    bad = replace(templates[0], extra_config={"cmd": "exit 3"})
    results = run_tasks(expand(catalog, (bad,))).collect()
    assert len(results) == 1
    r = results[0]
    assert not r.ok
    assert r.stage == "execute"  # failure stage recorded (DLQ attrs parity)
    assert "exit 3" in r.error


def test_worker_unknown_executor_quarantined(spark, tmp_path):
    src = _mk_inputs(tmp_path, n=1)
    urls = spark.createDataFrame([(f"file://{src}/clip_0.mov",)], "url string")
    catalog = with_resource_columns(urls)
    templates, _ = _templates(tmp_path)
    from dataclasses import replace
    bad = replace(templates[0], executor="warp-drive")
    results = run_tasks(expand(catalog, (bad,))).collect()
    assert not results[0].ok
    assert "unknown executor" in results[0].error


def test_phony_resources_skip_transfer(spark, tmp_path):
    urls = spark.createDataFrame([("file:///nonexistent/x.mov",)], "url string")
    catalog = with_resource_columns(urls, phony=True)
    templates, _ = _templates(tmp_path)
    from dataclasses import replace
    noop = replace(templates[0], executor="noop", extra_config={})
    results = run_tasks(expand(catalog, (noop,))).collect()
    # phony -> loaders no-op, nothing downloaded, still completes
    assert results[0].ok and results[0].bytes_in == 0


# ---------------------------------------------------------------------------
# ArrowFsLoader: the one transfer path for file://, s3:// and hdfs://
# (SURVEY §2A R29-R31), exercised here through file:// URLs, which
# resolve by the listers' raw-path rule (catalog._resolve_fs)
# ---------------------------------------------------------------------------


def test_arrowfs_loader_roundtrip(tmp_path):
    from chyme_spark.runner import ArrowFsLoader

    ld = ArrowFsLoader()
    src = tmp_path / "remote" / "obj"
    src.mkdir(parents=True)
    (src / "a.bin").write_bytes(b"A" * 100)
    (src / "b.bin").write_bytes(b"B" * 50)
    (src / "sub").mkdir()
    (src / "sub" / "c.bin").write_bytes(b"C" * 25)
    local = tmp_path / "local"
    local.mkdir()
    n = ld.download(f"file://{src}", str(local))
    assert n == 175
    assert sorted(os.listdir(local)) == ["a.bin", "b.bin", "sub"]
    assert (local / "sub" / "c.bin").read_bytes() == b"C" * 25
    # single-object download
    single = tmp_path / "single"
    single.mkdir()
    assert ld.download(f"file://{src}/a.bin", str(single)) == 100

    dest = tmp_path / "up" / "dest"
    m = ld.upload(str(local), f"file://{dest}")
    assert m == 175  # a local filesystem needs the nested key's parent made
    assert (dest / "sub" / "c.bin").read_bytes() == b"C" * 25
    assert ld.exists(f"file://{dest}/a.bin")
    ld.delete(f"file://{dest}/a.bin")
    assert not ld.exists(f"file://{dest}/a.bin")
    ld.delete(f"file://{dest}")
    assert not ld.exists(f"file://{dest}")


def test_tar_archive_roundtrip(tmp_path):
    """The reference DECLARES object(.tar)<->dir transfer cases but
    returns 'unimplemented' (ref internal/core/loader.go:169,258);
    here they are real: dir -> .tar object on upload, .tar object ->
    extracted dir on download, streaming both ways."""
    import tarfile

    from chyme_spark.runner import ArrowFsLoader

    work = tmp_path / "out"
    work.mkdir()
    (work / "manifest.mpd").write_bytes(b"M" * 70)
    (work / "seg1.m4s").write_bytes(b"S" * 30)

    ld = ArrowFsLoader()
    dest = tmp_path / "store" / "result.tar"
    n_up = ld.upload(str(work), f"file://{dest}")
    assert n_up == 100  # member bytes, not tar framing
    assert tarfile.is_tarfile(dest)
    with tarfile.open(dest) as tf:
        assert sorted(m.name for m in tf) == ["manifest.mpd", "seg1.m4s"]

    back = tmp_path / "back"
    back.mkdir()
    n_dn = ld.download(f"file://{dest}", str(back))
    assert n_dn == 100
    assert (back / "manifest.mpd").read_bytes() == b"M" * 70
    assert (back / "seg1.m4s").read_bytes() == b"S" * 30


def test_tar_extract_confines_members(tmp_path):
    """Path-traversal member names must not escape the dest dir."""
    import io
    import tarfile

    from chyme_spark.runner import Loader

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        data = b"evil"
        info = tarfile.TarInfo("../../escape.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    buf.seek(0)
    dest = tmp_path / "safe"
    dest.mkdir()
    n = Loader._extract_tar(buf, str(dest))
    # traversal members are SKIPPED entirely (and not counted), never
    # written anywhere — inside or outside the dest dir
    assert not (tmp_path / "escape.txt").exists()
    assert not (tmp_path.parent / "escape.txt").exists()
    assert not (dest / "escape.txt").exists()
    assert n == 0


def test_tar_roundtrip_preserves_nested_paths(tmp_path):
    """Nested member paths survive pack->extract: a/x.txt and b/x.txt
    no longer collide on basename, and the byte count matches only the
    members actually kept."""
    import io

    from chyme_spark.runner import Loader

    src = tmp_path / "src"
    (src / "a").mkdir(parents=True)
    (src / "b").mkdir()
    (src / "a" / "x.txt").write_bytes(b"alpha")
    (src / "b" / "x.txt").write_bytes(b"bravo!")
    (src / "top.txt").write_bytes(b"t")

    buf = io.BytesIO()
    packed = Loader._pack_tar(str(src), buf)
    assert packed == 5 + 6 + 1
    buf.seek(0)

    dest = tmp_path / "dest"
    dest.mkdir()
    extracted = Loader._extract_tar(buf, str(dest))
    assert extracted == packed
    assert (dest / "a" / "x.txt").read_bytes() == b"alpha"
    assert (dest / "b" / "x.txt").read_bytes() == b"bravo!"
    assert (dest / "top.txt").read_bytes() == b"t"


def test_nested_tar_flows_through_whole_task(spark, tmp_path):
    """The scenario the round-6 review flagged: a tar INPUT with nested
    members must survive the full worker pipeline — extract (nested
    paths kept), noop execute (no IsADirectoryError), and upload
    (subdirectory files actually transferred, not silently dropped)."""
    import tarfile

    from chyme_spark.runner import ArrowFsLoader

    src = tmp_path / "src"
    (src / "a").mkdir(parents=True)
    (src / "a" / "x.txt").write_bytes(b"alpha")
    (src / "y.txt").write_bytes(b"top")
    archive = tmp_path / "in.tar"
    with tarfile.open(archive, "w") as tf:
        tf.add(src / "a" / "x.txt", arcname="a/x.txt")
        tf.add(src / "y.txt", arcname="y.txt")

    out_dir = tmp_path / "out"
    tasks = spark.createDataFrame(
        [(
            "nested-tar-e2e",
            f"file://{archive}",
            f"file://{out_dir}/",
            f"file://{tmp_path}/meta/",
            "mov",
            "noop",
            {},
            60,
            "v1",
            False,
        )],
        _TASK_SCHEMA,
    )
    res = run_tasks(tasks).collect()[0]
    assert res.ok, res
    assert res.bytes_in == 5 + 3  # member bytes incl. the nested one
    assert (out_dir / "a" / "x.txt").read_bytes() == b"alpha"
    assert (out_dir / "y.txt").read_bytes() == b"top"
    # and the dir->dir loader paths are nested-safe too
    dl = tmp_path / "dl"
    dl.mkdir()
    n = ArrowFsLoader().download(f"file://{out_dir}", str(dl))
    assert n == 5 + 3
    assert (dl / "a" / "x.txt").read_bytes() == b"alpha"


def test_arrowfs_loader_explicit_credentials(tmp_path):
    """R40 parity: the loader accepts an explicit credential config
    (the engine analog of the reference's Vault->STS bootstrap,
    ref cmd/util.go:21-57) and binds it to s3:// resolution; other
    schemes are untouched and the configured loader pickles into
    executor closures."""
    import pickle

    from chyme_spark.runner import ArrowFsLoader, loaders_with_credentials

    opts = {
        "access_key": "AKIATEST",
        "secret_key": "secret",
        "session_token": "sts-token",
        "region": "us-east-1",
        "endpoint_override": "http://127.0.0.1:9",  # never contacted here
    }
    ld = ArrowFsLoader(s3_options=opts)
    fs, path = ld._resolve("s3://bucket/prefix/obj")
    assert type(fs).__name__ == "S3FileSystem"
    assert path == "bucket/prefix/obj"
    # non-s3 schemes ignore the s3 options entirely
    src = tmp_path / "o"
    src.mkdir()
    (src / "a.bin").write_bytes(b"A")
    out = tmp_path / "l"
    out.mkdir()
    assert ld.download(f"file://{src}", str(out)) == 1
    # executor-shippable: the config (not the filesystem) is what pickles
    ld2 = pickle.loads(pickle.dumps(ld))
    assert ld2.s3_options == opts
    # registry helper binds s3 while leaving file/phony factories alone
    reg = loaders_with_credentials(opts)
    assert reg["s3"]().s3_options == opts
    assert reg["file"] is ArrowFsLoader


def test_urls_resolve_only_through_catalog():
    """``catalog._resolve_fs`` is the one rule that turns a URL into
    (filesystem, path): no other chyme_spark module calls
    ``FileSystem.from_uri`` or takes ``.path``/``.netloc`` of a
    ``urlparse`` result, so a lister and a loader cannot drift apart on
    how a space, `#` or `%` in a path reads."""
    import ast
    import pathlib

    def urlparse_call(node) -> bool:
        f = getattr(node, "func", None)
        return isinstance(node, ast.Call) and "urlparse" in (
            getattr(f, "id", None), getattr(f, "attr", None)
        )

    pkg = pathlib.Path(__file__).resolve().parent.parent / "chyme_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "catalog.py":
            continue
        tree = ast.parse(path.read_text())
        parsed = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign) and urlparse_call(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(tree):
            if not isinstance(n, ast.Attribute):
                continue
            if n.attr == "from_uri" or (n.attr in ("path", "netloc") and (
                urlparse_call(n.value) or getattr(n.value, "id", None) in parsed
            )):
                found.append(f"{path.relative_to(pkg)}:{n.lineno} .{n.attr}")
    assert not found, found


def test_s3_credentials_conf_mapping():
    from chyme_spark.session import s3_credentials_conf

    conf = s3_credentials_conf(
        access_key="AK", secret_key="SK", session_token="TOK",
        endpoint="https://minio:9000", role_arn="arn:aws:iam::1:role/etl",
        session_duration_s=900,
    )
    assert conf["spark.hadoop.fs.s3a.access.key"] == "AK"
    assert conf["spark.hadoop.fs.s3a.session.token"] == "TOK"
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "https://minio:9000"
    assert conf["spark.hadoop.fs.s3a.assumed.role.arn"].endswith("role/etl")
    assert conf["spark.hadoop.fs.s3a.assumed.role.session.duration"] == "900s"
    # role assumption wins the provider slot (set last)
    assert "AssumedRole" in conf["spark.hadoop.fs.s3a.aws.credentials.provider"]


def test_worker_via_arrowfs_loader(spark, tmp_path):
    """Full 6-stage machine with ArrowFsLoader as the transfer layer —
    what an s3:// run executes, minus the wire."""
    from chyme_spark.runner import ArrowFsLoader, run_tasks as _run

    src = _mk_inputs(tmp_path)
    urls = spark.createDataFrame(
        [(f"file://{src}/{n}",) for n in sorted(os.listdir(src))], "url string"
    )
    templates, out_root = _templates(tmp_path)
    tasks = expand(with_resource_columns(urls), templates)
    from chyme_spark.runner import PhonyLoader
    results = _run(tasks, loaders={"file": ArrowFsLoader, "phony": PhonyLoader}).collect()
    assert len(results) == 3 and all(r.ok for r in results)
    produced = [f for _r, _d, fs in os.walk(out_root) for f in fs if f.endswith(".size")]
    assert len(produced) == 3


# ---------------------------------------------------------------------------
# stage-level resume (ref internal/worker/persistance.go:25-69)
# ---------------------------------------------------------------------------

_TASK_SCHEMA = (
    "task_hash string, input_url string, output_url string, metadata_url string, "
    "template string, executor string, config map<string,string>, timeout_s long, "
    "version string, phony boolean"
)


def _manual_task(tmp_path, metadata_url: str, counter) -> tuple:
    return (
        "resume-task-1",
        f"file://{tmp_path}/src/clip_0.mov",
        f"file://{tmp_path}/mirror/out/",
        metadata_url,
        "mov",
        "subprocess",
        {"cmd": f'echo x >> {counter}; cp "$IN"/* "$OUT"/'},
        60,
        "v1",
        False,
    )


def test_stage_resume_skips_completed_stages(spark, tmp_path):
    """Interrupt after execute (metadata-stage failure), then resume:
    download and execute must NOT re-run — the deleted source and the
    execute counter prove both skips."""
    src = _mk_inputs(tmp_path, n=1)
    counter = tmp_path / "exec_count"
    ckpt = str(tmp_path / "ckpt")

    bad = spark.createDataFrame(
        [_manual_task(tmp_path, "badscheme://nowhere/", counter)], _TASK_SCHEMA
    )
    r1 = run_tasks(bad, checkpoint_dir=ckpt).collect()[0]
    assert not r1.ok and r1.stage == "metadata"
    assert counter.read_text().count("x") == 1

    # kill the source: a resume that re-downloads would now fail
    (src / "clip_0.mov").unlink()

    good = spark.createDataFrame(
        [_manual_task(tmp_path, f"file://{tmp_path}/meta/", counter)], _TASK_SCHEMA
    )
    r2 = run_tasks(good, checkpoint_dir=ckpt).collect()[0]
    assert r2.ok and r2.stage == "complete"
    assert r2.bytes_in > 0  # carried from the checkpointed download
    assert counter.read_text().count("x") == 1  # execute ran exactly once
    assert os.path.exists(tmp_path / "mirror" / "out" / "clip_0.mov")
    assert os.path.exists(tmp_path / "meta" / "metadata.txt")
    # completed task cleans its durable workspace
    assert not os.path.exists(os.path.join(ckpt, "resume-task-1"))


def test_no_checkpoint_dir_retries_full_task(spark, tmp_path):
    """Without checkpoint_dir the machine is stateless: a re-run
    re-executes every stage (round-1 behavior preserved)."""
    _mk_inputs(tmp_path, n=1)
    counter = tmp_path / "exec_count"
    good = spark.createDataFrame(
        [_manual_task(tmp_path, f"file://{tmp_path}/meta/", counter)], _TASK_SCHEMA
    )
    assert run_tasks(good).collect()[0].ok
    assert run_tasks(good).collect()[0].ok
    assert counter.read_text().count("x") == 2

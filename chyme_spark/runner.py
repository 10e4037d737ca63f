"""Task runner — the reference's worker service re-expressed as a
distributed Spark stage.

The reference long-polls SQS one message at a time and runs a 6-stage
state machine per task: workspace -> download -> execute -> metadata ->
upload -> complete (ref ``internal/worker/service.go:131-183``), with
hooks around stages (ref ``internal/worker/hooks/hooks.go:10-35``),
scheme-dispatched loaders (ref ``internal/core/loader.go:26-91``),
executor registry (ref ``internal/core/executor.go:51-80``), DLQ on
failure (ref ``internal/core/task.go:132-147``).

Here the task table IS the queue: ``run_tasks`` partitions the tasks
DataFrame and executes the same stage machine inside ``mapInPandas`` —
one Arrow batch of tasks per Python worker, workspace on executor-local
disk, results (ledger rows + quarantine rows) returned as a DataFrame.
Spark's scheduler replaces the visibility-timeout dance: a failed
partition is retried by the engine, and idempotence comes from the
work queue upstream (``cli.pending``: tasks less ledger and quarantine).

One loader moves bytes for every real scheme: ``file://``, ``s3://`` and
``hdfs://`` all map to :class:`ArrowFsLoader`, which turns a URL into
(filesystem, path) with the listers' own rule (``catalog._resolve_fs``),
so any URL the catalog holds is one the worker can fetch. Phony
resources skip transfer (:class:`PhonyLoader`).

Scale: parallelism = partitions (configure with ``repartition`` before
calling); no driver involvement per task; executor-local scratch only.
The Docker executor drives the ``docker`` CLI with the reference's
container-reuse/timeout/env semantics and gates cleanly on the binary
being absent (no dockerd runs in this container; the test suite
exercises it against a stub CLI).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tarfile
import tempfile
import traceback
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from urllib.parse import urlparse

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# stages (ref internal/worker/service.go:119-128)
# ---------------------------------------------------------------------------

STAGES = ("start", "download", "execute", "metadata", "upload", "complete")


# ---------------------------------------------------------------------------
# stage checkpoints (ref internal/worker/persistance.go:25-69 — the worker
# persists {stage, message} on interrupt and falls through from that stage
# on resume, ref service.go:131-183)
# ---------------------------------------------------------------------------


def _marker_path(ws_root: str) -> str:
    return os.path.join(ws_root, "stage.json")


def _write_marker(ws_root: str, stage: str, **extra) -> None:
    """Atomically record the last COMPLETED stage + carried state."""
    path = _marker_path(ws_root)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"stage": stage, **extra}, f)
    os.replace(tmp, path)


def _read_marker(ws_root: str) -> dict | None:
    try:
        with open(_marker_path(ws_root)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


# ---------------------------------------------------------------------------
# loaders: scheme -> transfer behavior (ref internal/core/loader.go:26-117)
# ---------------------------------------------------------------------------


def walk_files(src_dir: str):
    """Yield (abs_path, rel_path) for every file under src_dir, in
    deterministic order, preserving nested structure. The single
    directory-walking contract for every workspace consumer — uploads,
    executors, tar packing — so a tar that extracts nested members
    (``_extract_tar`` keeps relative paths) round-trips through all of
    them instead of silently dropping subdirectory files."""
    for root, dirs, files in os.walk(src_dir):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            yield p, os.path.relpath(p, src_dir)


class Loader:
    def download(self, url: str, dest_dir: str) -> int:
        raise NotImplementedError

    def upload(self, src_dir: str, url: str) -> int:
        raise NotImplementedError

    def exists(self, url: str) -> bool:
        raise NotImplementedError

    def delete(self, url: str) -> None:
        raise NotImplementedError

    # -- .tar archive cases (ref internal/core/loader.go:169,258 — the
    # reference DECLARES object(.tar)<->dir transfers but returns
    # "unimplemented"; here they are real, streaming both ways) --------

    @staticmethod
    def _extract_tar(fileobj, dest_dir: str) -> int:
        """Stream-extract a tar into dest_dir; returns bytes of members
        actually kept. Members keep their sanitized RELATIVE paths under
        dest_dir (nested dirs preserved — two a/x and b/x members no
        longer collide); absolute paths, drive prefixes, and any `..`
        component are skipped, confining every write to dest_dir."""
        total = 0
        with tarfile.open(fileobj=fileobj, mode="r|*") as tf:
            for member in tf:
                if not member.isfile():
                    continue
                rel = os.path.normpath(member.name.lstrip("/"))
                parts = rel.split(os.sep)
                if not rel or rel == "." or ".." in parts or os.path.isabs(rel):
                    continue
                src = tf.extractfile(member)
                if src is None:
                    continue
                out = os.path.join(dest_dir, rel)
                os.makedirs(os.path.dirname(out) or dest_dir, exist_ok=True)
                with open(out, "wb") as dst:
                    shutil.copyfileobj(src, dst)
                total += member.size
        return total

    @staticmethod
    def _pack_tar(src_dir: str, fileobj) -> int:
        """Stream-pack src_dir's files into an uncompressed tar on
        fileobj; returns member bytes (tar framing excluded, matching
        the byte-counting contract of the plain-file paths)."""
        total = 0
        with tarfile.open(fileobj=fileobj, mode="w|") as tf:
            for p, rel in walk_files(src_dir):
                tf.add(p, arcname=rel)
                total += os.path.getsize(p)
        return total


class PhonyLoader(Loader):
    """No-op transfers (ref phony loader internal/core/loader.go:93-117)."""

    def download(self, url: str, dest_dir: str) -> int:
        return 0

    def upload(self, src_dir: str, url: str) -> int:
        return 0


class ArrowFsLoader(Loader):
    """Scheme-generic loader over ``pyarrow.fs`` — the one transfer path
    for every real scheme: file://, s3:// and hdfs:// (gcs via mounts).
    URLs resolve through ``catalog._resolve_fs``, the rule the listers
    use, so a URL the catalog wrote names the file this loader reads.

    Parity target: the reference's S3 download/upload
    (ref ``internal/core/loader.go:148-286``) and exists/size/delete
    (ref ``pkg/aws/s3.go:207-309``). Arrow's C++ filesystems are chosen
    over the JVM Hadoop FS API deliberately: this loader executes INSIDE
    ``mapInPandas`` on executors, where the Python worker has no py4j
    gateway — pyarrow is import-safe there and its S3 support needs no
    boto3.

    Credentials (R40 parity, ref Vault->STS bootstrap
    ``cmd/util.go:21-57``): by default the standard env/instance-profile
    chain resolves, same as the reference's SDK config. For explicit
    bootstrap pass ``s3_options`` — a plain dict of
    ``pyarrow.fs.S3FileSystem`` keyword options, e.g.::

        ArrowFsLoader(s3_options={
            "access_key": ..., "secret_key": ..., "session_token": ...,
            "endpoint_override": "https://minio.internal:9000",
            "region": "us-east-1",
            # STS assume-role (the reference's Vault->STS temp-creds flow):
            "role_arn": "arn:aws:iam::123:role/etl",
            "load_frequency": 900,   # re-assume cadence ~ token TTL
        })

    The dict is plain strings/numbers, so the loader pickles cleanly
    into executor-side ``mapInPandas`` closures; each worker constructs
    its own S3FileSystem (Arrow filesystems are not themselves
    serialized).

    Streamed in 8 MiB chunks: object size never bounds worker memory.
    """

    _CHUNK = 8 * 1024 * 1024

    def __init__(self, s3_options: dict | None = None):
        self.s3_options = dict(s3_options or {})

    def _resolve(self, url: str):
        # the listers' URL rule (raw file:// paths, explicit s3 options)
        from chyme_spark.catalog import _resolve_fs

        return _resolve_fs(url, self.s3_options)

    def download(self, url: str, dest_dir: str) -> int:
        from pyarrow import fs as pafs

        fs, path = self._resolve(url)
        info = fs.get_file_info(path)
        if info.type == pafs.FileType.File and path.endswith(".tar"):
            # object(.tar) -> dir: stream-extract, no local tar copy
            # (ref loader.go:169 declares this case, unimplemented there)
            with fs.open_input_stream(path) as src:
                return self._extract_tar(src, dest_dir)
        if info.type == pafs.FileType.Directory:
            # recursive, preserving relative key paths: upload writes
            # nested keys (walk_files), so a non-recursive basename
            # listing here would silently drop every nested object on
            # the way back down (round-6 review finding)
            infos = [
                i for i in fs.get_file_info(pafs.FileSelector(path, recursive=True))
                if i.type == pafs.FileType.File
            ]
        elif info.type == pafs.FileType.File:
            infos = [info]
        else:
            raise FileNotFoundError(url)
        prefix = path.rstrip("/") + "/"
        total = 0
        for i in sorted(infos, key=lambda i: i.path):
            rel = i.path[len(prefix):] if i.path.startswith(prefix) else os.path.basename(i.path)
            out = os.path.join(dest_dir, *rel.split("/"))
            os.makedirs(os.path.dirname(out) or dest_dir, exist_ok=True)
            with fs.open_input_stream(i.path) as src, open(out, "wb") as dst:
                while chunk := src.read(self._CHUNK):
                    dst.write(chunk)
                    total += len(chunk)
        return total

    def upload(self, src_dir: str, url: str) -> int:
        fs, path = self._resolve(url)
        # Object stores have no directories: pyarrow's S3FileSystem
        # implements create_dir as a zero-byte "<path>/" marker object,
        # which pollutes the bucket (billions of empty keys at 100 TB
        # scale) and double-counts in prefix listings. The reference
        # does plain PUTs with no markers (ref pkg/aws/s3.go:91-162);
        # open_output_stream materializes the key directly, so only
        # real filesystems (local/hdfs) create each key's parent.
        has_dirs = fs.type_name not in ("s3", "gcs", "abfs")

        def put(key: str):
            parent = key.rpartition("/")[0]
            if has_dirs and parent:
                fs.create_dir(parent, recursive=True)
            return fs.open_output_stream(key)

        if path.endswith(".tar"):
            # dir -> object(.tar): stream-pack straight into the (multipart
            # on s3) output stream (ref loader.go:258, unimplemented there)
            with put(path) as dst:
                return self._pack_tar(src_dir, dst)
        if has_dirs:  # an empty workspace still leaves its destination
            fs.create_dir(path, recursive=True)
        total = 0
        for p, rel in walk_files(src_dir):
            key = rel.replace(os.sep, "/")
            with open(p, "rb") as src, put(f"{path}/{key}") as dst:
                while chunk := src.read(self._CHUNK):
                    dst.write(chunk)
                    total += len(chunk)
        return total

    def exists(self, url: str) -> bool:
        from pyarrow import fs as pafs

        fs, path = self._resolve(url)
        return fs.get_file_info(path).type != pafs.FileType.NotFound

    def delete(self, url: str) -> None:
        from pyarrow import fs as pafs

        fs, path = self._resolve(url)
        info = fs.get_file_info(path)
        if info.type == pafs.FileType.Directory:
            fs.delete_dir(path)
        elif info.type == pafs.FileType.File:
            fs.delete_file(path)


DEFAULT_LOADERS: dict[str, Callable[[], Loader]] = {
    "file": ArrowFsLoader,
    "phony": PhonyLoader,
    "s3": ArrowFsLoader,
    "hdfs": ArrowFsLoader,
}


def loaders_with_credentials(s3_options: dict) -> dict[str, Callable[[], Loader]]:
    """DEFAULT_LOADERS with the object-store schemes bound to an explicit
    credential config (see :class:`ArrowFsLoader`) — the engine-side hook
    for the reference's credential bootstrap (R40, ref cmd/util.go:21-57).
    """
    bound = dict(DEFAULT_LOADERS)
    for scheme in ("s3", "hdfs"):
        bound[scheme] = lambda opts=dict(s3_options): ArrowFsLoader(s3_options=opts)
    return bound


# ---------------------------------------------------------------------------
# executors (ref internal/core/executor.go:51-80, executor_docker.go:36-113)
# ---------------------------------------------------------------------------


@dataclass
class ExecutionResult:
    ok: bool
    error: str = ""
    metadata: dict[str, str] | None = None


def noop_executor(task: dict, workspace: dict[str, str]) -> ExecutionResult:
    """Copy input -> output untouched (nested dirs preserved); always
    succeeds."""
    n = 0
    for p, rel in walk_files(workspace["input"]):
        out = os.path.join(workspace["output"], rel)
        os.makedirs(os.path.dirname(out) or workspace["output"], exist_ok=True)
        shutil.copy(p, out)
        n += 1
    return ExecutionResult(ok=True, metadata={"files": str(n)})


def subprocess_executor(task: dict, workspace: dict[str, str]) -> ExecutionResult:
    """Run the command in config.cmd with $IN/$OUT substituted — the
    engine analog of the ffmpeg container payload (ref
    images/mov/process_mov.sh:3-8), minus Docker."""
    cmd = (task.get("config") or {}).get("cmd")
    if not cmd:
        return ExecutionResult(ok=False, error="subprocess executor needs config['cmd']")
    env = {**os.environ, "IN": workspace["input"], "OUT": workspace["output"]}
    timeout = int(task.get("timeout_s") or 3600)
    try:
        proc = subprocess.run(
            ["/bin/sh", "-c", cmd], env=env, capture_output=True, text=True, timeout=timeout
        )
    except subprocess.TimeoutExpired:
        return ExecutionResult(ok=False, error=f"timeout after {timeout}s")
    if proc.returncode != 0:
        return ExecutionResult(ok=False, error=f"exit {proc.returncode}: {proc.stderr[-500:]}")
    return ExecutionResult(ok=True, metadata={"stdout_tail": proc.stdout[-200:]})


def _docker(args: list[str], timeout: float | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(["docker", *args], capture_output=True, text=True, timeout=timeout)


def docker_executor(task: dict, workspace: dict[str, str]) -> ExecutionResult:
    """Run the task's image in a container named by the task hash, via
    the ``docker`` CLI (no SDK dependency; gated on the binary).

    Parity with the reference executor (ref
    internal/core/executor_docker.go:36-113):
      * container REUSE by task-hash name (:157-182): a retry of the
        same task restarts its existing container instead of paying
        create again — the reference's memoization trick;
      * optional image pull when config['pull'] is truthy (:184-192);
      * binds ``<ws>/input:/in`` and ``<ws>/output:/out``, optional
        ``--user``, env injection from config['env'] split on newlines
        (:194-217, :242-251);
      * wait raced against the task timeout -> kill (:80-102, :219-221);
      * non-zero exit -> error result with log tail (:130-155);
      * container removed on success, kept on failure for the retry to
        reuse (clean-in-epilogue, :115-128).
    """
    if shutil.which("docker") is None:
        return ExecutionResult(ok=False, error="docker CLI not on PATH in this container")
    cfg = task.get("config") or {}
    image = cfg.get("image")
    if not image:
        return ExecutionResult(ok=False, error="docker executor needs config['image']")
    name = f"chyme-{task['task_hash']}"
    timeout = int(task.get("timeout_s") or 3600)
    try:
        found = _docker(["ps", "-aq", "--filter", f"name=^{name}$"])
        if found.returncode != 0:
            return ExecutionResult(ok=False, error=f"docker ps: {found.stderr[-300:]}")
        if found.stdout.strip():
            # reuse is only sound if the kept container's binds point at
            # THIS run's workspace — without checkpoint_dir each run uses
            # a fresh tempdir, and starting the old container would mount
            # the deleted previous one (docker recreates it empty) and
            # "succeed" on no input (round-6 review finding)
            binds = _docker(["inspect", "-f", "{{range .HostConfig.Binds}}{{println .}}{{end}}", name])
            want = {f"{workspace['input']}:/in", f"{workspace['output']}:/out"}
            have = {b.strip() for b in (binds.stdout or "").splitlines() if b.strip()}
            if binds.returncode != 0 or not want <= have:
                _docker(["rm", "-f", name])
                found = _docker(["ps", "-aq", "--filter", f"name=^{name}$"])
        if not found.stdout.strip():
            if cfg.get("pull"):
                pulled = _docker(["pull", image], timeout=timeout)
                if pulled.returncode != 0:
                    return ExecutionResult(ok=False, error=f"docker pull: {pulled.stderr[-300:]}")
            create = [
                "create", "--name", name,
                "-v", f"{workspace['input']}:/in",
                "-v", f"{workspace['output']}:/out",
            ]
            if cfg.get("user"):
                create += ["--user", cfg["user"]]
            for kv in (cfg.get("env") or "").split("\n"):
                if kv.strip():
                    create += ["-e", kv.strip()]
            create.append(image)
            made = _docker(create)
            if made.returncode != 0:
                return ExecutionResult(ok=False, error=f"docker create: {made.stderr[-300:]}")
        started = _docker(["start", name])
        if started.returncode != 0:
            return ExecutionResult(ok=False, error=f"docker start: {started.stderr[-300:]}")
        try:
            waited = _docker(["wait", name], timeout=timeout)
        except subprocess.TimeoutExpired:
            _docker(["kill", name])
            return ExecutionResult(ok=False, error=f"timeout after {timeout}s (container killed)")
        code = (waited.stdout or "").strip()
        if waited.returncode != 0 or code != "0":
            logs = _docker(["logs", "--tail", "20", name])
            tail = (logs.stderr or logs.stdout)[-300:]
            return ExecutionResult(ok=False, error=f"container exit {code or '?'}: {tail}")
        _docker(["rm", "-f", name])
        return ExecutionResult(ok=True, metadata={"container": name, "image": image})
    except FileNotFoundError:
        return ExecutionResult(ok=False, error="docker CLI not runnable")


DEFAULT_EXECUTORS: dict[str, Callable[[dict, dict], ExecutionResult]] = {
    "noop": noop_executor,
    "subprocess": subprocess_executor,
    "docker": docker_executor,
}


# ---------------------------------------------------------------------------
# hooks (ref internal/worker/hooks/hooks.go:10-35)
# ---------------------------------------------------------------------------


class Hooks:
    """Base no-op hooks; subclass and register to intercept stages."""

    def pre_download(self, task: dict) -> None: ...

    def pre_execute(self, task: dict) -> None: ...

    def pre_upload(self, task: dict) -> None: ...

    def post_upload(self, task: dict) -> None: ...


DEFAULT_HOOKS: dict[str, type[Hooks]] = {"mov": Hooks, "mp4": Hooks, "": Hooks}


RESULT_SCHEMA = T.StructType(
    [
        T.StructField("task_hash", T.StringType()),
        T.StructField("template", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("bytes_out", T.LongType()),
    ]
)


def _process_one(
    task: dict,
    loaders: dict[str, Callable[[], Loader]],
    executors: dict[str, Callable[[dict, dict], ExecutionResult]],
    hooks_registry: dict[str, type[Hooks]],
    workdir: str,
    durable: bool = False,
) -> dict:
    """The 6-stage machine for one task (ref internal/worker/service.go:131-183).

    With ``durable`` (run_tasks checkpoint_dir), each completed stage
    writes an atomic marker into the task workspace and a re-run resumes
    from the first incomplete stage — a task interrupted after its
    (expensive) execute stage re-runs only metadata/upload (ref
    internal/worker/persistance.go:25-69).
    """
    stage = "start"
    bytes_in = bytes_out = 0
    try:
        hooks_cls = hooks_registry.get(task.get("template") or "")
        if hooks_cls is None:
            # unknown hooks -> quarantine (ref service.go:86-89 DLQs it)
            return dict(task_hash=task["task_hash"], template=task.get("template"),
                        stage=stage, ok=False, error=f"unknown hooks {task.get('template')!r}",
                        bytes_in=0, bytes_out=0)
        hooks = hooks_cls()

        def loader_for(url: str) -> Loader:
            scheme = "phony" if task.get("phony") else urlparse(url).scheme
            factory = loaders.get(scheme)
            if factory is None:
                raise ValueError(f"no loader for scheme {scheme!r}")
            return factory()

        # start: workspace (ref internal/core/task.go:205-224)
        ws_root = os.path.join(workdir, task["task_hash"])
        ws = {k: os.path.join(ws_root, k) for k in ("input", "output", "internal")}
        for p in ws.values():
            os.makedirs(p, exist_ok=True)

        # resume point: last COMPLETED stage from a prior interrupted run.
        # An unrecognized stage (marker from another code version, or a
        # renamed stage) must fall back to a full re-run, not raise —
        # the raise would quarantine the task on EVERY retry with the
        # bad marker never cleaned (round-6 review finding).
        marker = _read_marker(ws_root) if durable else None
        if marker and marker.get("stage") not in STAGES:
            marker = None
        done_idx = STAGES.index(marker["stage"]) if marker else 0
        bytes_in = int(marker.get("bytes_in", 0)) if marker else 0
        exec_meta = dict(marker.get("metadata") or {}) if marker else None

        def ckpt(completed_stage: str, **extra) -> None:
            if durable:
                _write_marker(ws_root, completed_stage, **extra)

        stage = "download"
        if done_idx < STAGES.index(stage):
            hooks.pre_download(task)
            bytes_in = loader_for(task["input_url"]).download(task["input_url"], ws["input"])
            ckpt(stage, bytes_in=bytes_in)

        stage = "execute"
        if done_idx < STAGES.index(stage):
            hooks.pre_execute(task)
            executor = executors.get(task.get("executor") or "")
            if executor is None:
                raise ValueError(f"unknown executor {task.get('executor')!r}")
            result = executor(task, ws)
            if not result.ok:
                raise RuntimeError(result.error)
            exec_meta = result.metadata
            ckpt(stage, bytes_in=bytes_in, metadata=exec_meta)

        stage = "metadata"
        if done_idx < STAGES.index(stage):
            if exec_meta and task.get("metadata_url"):
                meta_dir = os.path.join(ws["internal"], "metadata")
                os.makedirs(meta_dir, exist_ok=True)
                with open(os.path.join(meta_dir, "metadata.txt"), "w") as f:
                    for k, v in sorted(exec_meta.items()):
                        f.write(f"{k}={v}\n")
                loader_for(task["metadata_url"]).upload(meta_dir, task["metadata_url"])
            ckpt(stage, bytes_in=bytes_in, metadata=exec_meta)

        stage = "upload"
        hooks.pre_upload(task)
        bytes_out = loader_for(task["output_url"]).upload(ws["output"], task["output_url"])
        hooks.post_upload(task)

        stage = "complete"
        shutil.rmtree(ws_root, ignore_errors=True)
        return dict(task_hash=task["task_hash"], template=task.get("template"),
                    stage=stage, ok=True, error="", bytes_in=bytes_in, bytes_out=bytes_out)
    except Exception as e:  # noqa: BLE001 — any failure quarantines the task
        return dict(task_hash=task.get("task_hash"), template=task.get("template"),
                    stage=stage, ok=False,
                    error=f"{type(e).__name__}: {e}"[:500] or traceback.format_exc()[-500:],
                    bytes_in=bytes_in, bytes_out=bytes_out)


def run_tasks(
    tasks: DataFrame,
    loaders: dict[str, Callable[[], Loader]] | None = None,
    executors: dict[str, Callable[[dict, dict], ExecutionResult]] | None = None,
    hooks_registry: dict[str, type[Hooks]] | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Execute every task row; returns the result ledger DataFrame.

    Failed rows carry (stage, error) — the quarantine/DLQ analog: filter
    ``ok == False`` and append to the quarantine table (ref Fail ->
    DLQ ``internal/core/task.go:132-147``).

    ``checkpoint_dir`` enables stage-level resume: workspaces live under
    it (not a run-scoped tempdir), each completed stage writes a marker,
    and a re-run of a failed task skips its completed stages — e.g. an
    expensive transcode survives an upload outage. Point it at storage
    the retry will see again: executor-local disk when retries are
    host-sticky, a shared mount otherwise. Without it behavior is
    unchanged (fresh tempdir, full task retry).
    """
    loaders = loaders or DEFAULT_LOADERS
    executors = executors or DEFAULT_EXECUTORS
    hooks_registry = hooks_registry or DEFAULT_HOOKS

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        durable = checkpoint_dir is not None
        if durable:
            workdir = checkpoint_dir
            os.makedirs(workdir, exist_ok=True)
        else:
            workdir = tempfile.mkdtemp(prefix="chyme_ws_")
        try:
            for pdf in batches:
                out = [
                    _process_one(row, loaders, executors, hooks_registry, workdir, durable)
                    for row in pdf.to_dict("records")
                ]
                yield pd.DataFrame(out, columns=[f.name for f in RESULT_SCHEMA.fields])
        finally:
            # finally, not post-loop: a downstream limit()/take() closes
            # this generator early (GeneratorExit at the yield) and the
            # tempdir — holding every task's inputs/outputs — would
            # otherwise accumulate on executor disk (round-6 review)
            if not durable:
                shutil.rmtree(workdir, ignore_errors=True)

    return tasks.mapInPandas(process, RESULT_SCHEMA)

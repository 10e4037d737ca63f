"""The ``etl_pipeline`` workload: chyme's ingest -> tasker -> worker run.

The seed generates a ``file://`` resource tree: nested directories, an
extension mix (``.mov .MOV .mp4 .txt .jpg`` and none), mostly small files
with a few MB-sized ones, and about 2% poison inputs that the payload
rejects. A cycle runs one bulk ``pipeline`` verb on empty tables, then
an incremental round that adds a seeded batch and runs the verb again,
then a run with no arrivals that must change nothing.
"""

from __future__ import annotations

import contextlib
import functools
import io
import os
import random
import sys
import time
from dataclasses import dataclass, field
from urllib.parse import urlparse

from perfbench import checks
from perfbench.trace import read_worker_spans, traced_runner_tables

ELIGIBLE_EXTS = (".mov", ".MOV", ".mp4")
OTHER_EXTS = (".txt", ".jpg", "")
POISON = b"POISON"

# The copy payload: reject poison inputs at the execute stage, copy the rest.
PAYLOAD = (
    'for f in "$IN"/*; do '
    f'if [ "$(head -c {len(POISON)} "$f")" = {POISON.decode()} ]; then echo poison input >&2; exit 3; fi; '
    'done; cp -R "$IN"/. "$OUT"/'
)


@dataclass(frozen=True)
class BatchShape:
    eligible: int
    other: int
    poison: int = 0
    big: int = 0


# A cycle is bulk, one incremental round, then an idle run, on fresh tables.
# The warm cycle runs the same verbs on a tiny tree, so no timed verb is
# the first of its kind in the JVM.
WARM = BatchShape(eligible=2, other=1, poison=1)
WARM_ROUND = BatchShape(eligible=2, other=1)
BULK = BatchShape(eligible=100, other=60, poison=2, big=2)
ROUND = BatchShape(eligible=10, other=6, poison=1)
CYCLE_S = 13.0  # about the wall seconds of one timed cycle on a 4-core host; --seconds / CYCLE_S cycles run


@dataclass
class Tree:
    """A seeded resource tree and what the pipeline must make of it."""

    root: str
    rng: random.Random
    eligible: dict[str, str] = field(default_factory=dict)  # url -> path
    poison: set[str] = field(default_factory=set)
    n: int = 0

    def batch(self, shape: BatchShape) -> list[tuple[str, bytes]]:
        """Seeded (path, bytes) files for one arrival; not yet written."""
        rng, files = self.rng, []
        kinds = ["poison"] * shape.poison + ["big"] * shape.big
        kinds += ["small"] * (shape.eligible - len(kinds)) + ["other"] * shape.other
        rng.shuffle(kinds)
        for kind in kinds:
            depth = rng.randrange(0, 4)
            parts = [f"d{rng.randrange(5)}" for _ in range(depth)]
            ext = rng.choice(OTHER_EXTS if kind == "other" else ELIGIBLE_EXTS)
            path = os.path.join(self.root, *parts, f"r{self.n:05d}{ext}")
            self.n += 1
            size = rng.randrange(1 << 20, 2 << 20) if kind == "big" else rng.randrange(64, 8192)
            head = POISON if kind == "poison" else b"CHYME\n"
            files.append((path, head + rng.randbytes(size)))
        return files

    def arrive(self, files: list[tuple[str, bytes]]) -> None:
        for path, data in files:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(data)
            if path.lower().endswith((".mov", ".mp4")):
                url = f"file://{path}"
                self.eligible[url] = path
                if data.startswith(POISON):
                    self.poison.add(url)


class Pipeline:
    """Tables, mirror and the ``pipeline`` verb for one fresh directory."""

    def __init__(self, base: str, seed: int | str):
        self.tree = Tree(os.path.join(base, "src"), random.Random(seed))
        self.mirror = os.path.join(base, "mirror")
        self.tables = {t: os.path.join(base, t) for t in ("catalog", "tasks", "ledger", "quarantine")}
        self.argv = [
            "pipeline", f"file://{self.tree.root}", "--filter", "ext/mov/mp4",
            "--catalog", self.tables["catalog"], "--tasks", self.tables["tasks"],
            "--ledger", self.tables["ledger"], "--quarantine", self.tables["quarantine"],
            "--mirror-base", f"file://{self.mirror}", "--executor", "subprocess", "--cmd", PAYLOAD,
        ]  # fmt: skip
        os.makedirs(self.tree.root, exist_ok=True)

    def run(self, cli) -> float:
        """One ``pipeline`` verb; returns its wall seconds. The verb's own
        stdout goes to stderr so the benchmark's stdout stays a report."""
        out = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(out):
            rc = cli.main(list(self.argv))
        wall = time.perf_counter() - t0
        sys.stderr.write(out.getvalue())
        if rc != 0:
            raise RuntimeError(f"pipeline verb exited {rc}")
        return wall

    def state(self) -> checks.EtlState:
        return checks.load_etl_state(self.tables)

    def check(self, state: checks.EtlState) -> list[str]:
        return checks.check_etl_state(state, self.tree.eligible, self.tree.poison, self.mirror)

    def parquet_files(self) -> int:
        return sum(
            name.endswith(".parquet")
            for path in self.tables.values()
            if os.path.isdir(path)
            for name in os.listdir(path)
        )


class EtlTracing:
    """Run-time wrappers around the verbs' layers, recording spans and
    counters into ``self.phase`` for the phase being run."""

    def __init__(self, tracer, window, span_dir: str, cores: int):
        self.tracer, self.window, self.span_dir, self.cores = tracer, window, span_dir, cores
        self.phase: dict[str, float] = {}
        self._undo: list = []

    def _patch(self, owner, name: str, wrapper) -> None:
        orig = getattr(owner, name)
        setattr(owner, name, functools.wraps(orig)(functools.partial(wrapper, orig)))
        self._undo.append((owner, name, orig))

    def install(self, cli, catalog, runner) -> None:
        self._runner = runner
        self._patch(catalog, "list_files", self._list_files)
        self._patch(cli, "cmd_ingest", functools.partial(self._timed, "ingest"))
        self._patch(cli, "cmd_tasker", functools.partial(self._timed, "tasker"))
        self._patch(cli, "cmd_worker", self._worker)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def _list_files(self, orig, spark, root: str, *args, **kwargs):
        t0 = time.perf_counter()
        with self.tracer.span("catalog.list_files"):
            df = orig(spark, root, *args, **kwargs)
        self.phase["catalog.list_files_s"] = time.perf_counter() - t0
        with self.tracer.bookkeeping():  # the files under the listed root, without a Spark job
            self.phase["catalog.listed"] = sum(len(f) for _, _, f in os.walk(urlparse(root).path))
        return df

    def _timed(self, layer: str, orig, args):
        t0 = time.perf_counter()
        with self.tracer.span(layer):
            rc = orig(args)
        self.phase[f"{layer}.s"] = time.perf_counter() - t0
        return rc

    def _worker(self, orig, args):
        runner = self._runner
        loaders, executors = dict(runner.DEFAULT_LOADERS), dict(runner.DEFAULT_EXECUTORS)
        first = self.window.cursor()
        t0 = time.perf_counter()
        with self.tracer.span("worker") as sp:
            tl, te = traced_runner_tables(loaders, executors, self.span_dir, self.tracer.run_id, sp.id)
            runner.DEFAULT_LOADERS.update(tl)
            runner.DEFAULT_EXECUTORS.update(te)
            try:
                rc = orig(args)
            finally:
                runner.DEFAULT_LOADERS.update(loaders)
                runner.DEFAULT_EXECUTORS.update(executors)
        wall = time.perf_counter() - t0
        self.phase["worker.s"] = wall
        self.phase["worker_span"] = sp.id
        with self.tracer.bookkeeping():
            c = self.window.totals(first, self.window.cursor())
        self.phase["runner.spark_tasks"] = c.tasks
        self.phase["runner.core_util"] = c.run_ms / 1000 / (wall * self.cores)
        return rc

    def worker_spans(self, span_id: int) -> list[dict]:
        return [s for s in read_worker_spans(self.span_dir) if s["parent"] == span_id]


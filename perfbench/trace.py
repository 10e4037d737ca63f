"""Spans and Spark counters, recorded from outside the engine.

The tracer wraps the engine's public functions at run time and keeps
spans (name, start, end, parent, run id) in memory until the run ends.
Python-worker spans (loader and executor calls inside the task runner)
are appended to one JSON-lines file per worker process, because workers
share no memory with the benchmark process.

Spark counters come from the status store, read for the stages a call
created: the scheduler numbers stages consecutively, so the stage ids a
closed-loop call ran are exactly those allocated between its start and
end. That window also covers streaming micro-batches, which run under
the stream's own job group rather than the caller's.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Counters:
    """Totals over the stages one call ran."""

    tasks: int = 0
    run_ms: int = 0  # executorRunTime summed over tasks
    shuffle_bytes: int = 0  # shuffle write
    spill_bytes: int = 0  # disk spill

    def __iadd__(self, other: Counters) -> Counters:
        self.tasks += other.tasks
        self.run_ms += other.run_ms
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes
        return self


class StageWindow:
    """Counters for the stages created while a block runs."""

    def __init__(self, sc):
        self._sc = sc
        self._dag = sc._jsc.sc().dagScheduler()

    def cursor(self) -> int:
        return self._dag.nextStageId()

    def totals(self, first: int, end: int) -> Counters:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = Counters()
        for sid in range(first, end):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage planned but skipped has no attempt
                continue
            out += Counters(
                st.numCompleteTasks(), st.executorRunTime(), st.shuffleWriteBytes(), st.diskBytesSpilled()
            )
        return out


class Tracer:
    """Spans of one run. Disabled, every method is a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time the tracer itself spent

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, time.perf_counter(), parent=self.current)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            with self.span("trace.bookkeeping"):
                yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - child[sp.id]
        return out

    def dump(self, path: str, worker_spans: list[dict], extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {
            "run_id": self.run_id,
            "spans": [vars(s) for s in self.spans],
            "worker_spans": worker_spans,
            "self_s": self.self_times(),
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


# ---------------------------------------------------------------------------
# Python-worker spans (pickled into the task runner's mapInPandas closure)
# ---------------------------------------------------------------------------


def _emit(span_dir: str, run_id: str, parent: int, name: str, start: float, end: float) -> None:
    rec = {"name": name, "start": start, "end": end, "parent": parent, "run": run_id, "pid": os.getpid()}
    with open(os.path.join(span_dir, f"worker-{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


class TracedLoader:
    """A loader whose transfers record ``runner.download``/``runner.upload`` spans."""

    def __init__(self, factory, span_dir: str, run_id: str, parent: int):
        self._inner = factory()
        self._where = (span_dir, run_id, parent)

    def download(self, url: str, dest_dir: str) -> int:
        t0 = time.time()
        try:
            return self._inner.download(url, dest_dir)
        finally:
            _emit(self._where[0], self._where[1], self._where[2], "runner.download", t0, time.time())

    def upload(self, src_dir: str, url: str) -> int:
        t0 = time.time()
        try:
            return self._inner.upload(src_dir, url)
        finally:
            _emit(self._where[0], self._where[1], self._where[2], "runner.upload", t0, time.time())

    def __getattr__(self, name):
        return getattr(self._inner, name)


def traced_executor(inner, span_dir: str, run_id: str, parent: int, task: dict, workspace: dict):
    t0 = time.time()
    try:
        return inner(task, workspace)
    finally:
        _emit(span_dir, run_id, parent, "runner.execute", t0, time.time())


def traced_runner_tables(loaders: dict, executors: dict, span_dir: str, run_id: str, parent: int):
    """Copies of the runner's loader/executor registries that record spans."""
    return (
        {k: functools.partial(TracedLoader, f, span_dir, run_id, parent) for k, f in loaders.items()},
        {k: functools.partial(traced_executor, f, span_dir, run_id, parent) for k, f in executors.items()},
    )


def read_worker_spans(span_dir: str) -> list[dict]:
    out = []
    if not os.path.isdir(span_dir):
        return out
    for name in sorted(os.listdir(span_dir)):
        with open(os.path.join(span_dir, name)) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out

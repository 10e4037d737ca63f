"""chyme_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {etl_pipeline,query_mix} --seed N --seconds S --trace {0,1}

Run from the repository root. One closed-loop client in this process
drives the engine on ``local[<cores>]`` through its public surface only
(``cli.main``, ``registry.load_all()[name].fn``, ``session.get_spark``).
With ``--trace 0`` it measures the end-to-end metrics with no
instrumentation; with ``--trace 1`` it wraps the engine's public
functions, records spans and Spark stage counters, and reports the
per-layer metrics. Outputs are checked on every run; a mismatch makes
the run fail (exit 1). The report goes to stdout; the last stdout line
is the JSON result. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # process start, as near as Python can see it

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("etl_pipeline", "query_mix")

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "query_cpu_geomean_s": "s"}  # name -> unit
CLK_TCK = os.sysconf("SC_CLK_TCK")
_OPS_UNITS = {"build_s": "s", "exec_s": "s", "tasks": "count", "core_util": "ratio",
              "shuffle_bytes": "bytes", "spill_bytes": "bytes"}  # fmt: skip
_ETL_UNITS = {
    "catalog.list_files_s": "s", "catalog.listed": "count", "ingest.s": "s",
    "ingest.cataloged": "count", "tasker.s": "s", "tasker.created": "count",
    "worker.s": "s", "runner.attempted": "count", "runner.completed": "count",
    "runner.useful_ratio": "ratio", "runner.spark_tasks": "count", "runner.core_util": "ratio",
    "runner.download_p50_s": "s", "runner.execute_p50_s": "s", "runner.upload_p50_s": "s",
    "tables.files": "count",
}  # fmt: skip


def _per_layer_units() -> dict[str, str]:
    from perfbench.queries import MEMBERS, MODULES

    units = {"session.get_spark_s": "s", "registry.load_all_s": "s"}
    for m in MODULES:
        units.update({f"ops.{m}.{k}": u for k, u in _OPS_UNITS.items()})
    units.update({f"q.{n}.s": "s" for n in MEMBERS})
    for phase in ("bulk", "round"):
        units.update({f"{phase}.{k}": u for k, u in _ETL_UNITS.items()})
    units.update({"pass_s": "s", "query_geomean_s": "s", "setup_wall_s": "s", "host.steal_ratio": "ratio",
                  "tasks_per_s": "1/s", "round_s": "s", "error_rate": "ratio", "peak_rss_mb": "MB",
                  "trace.overhead_s": "s", "trace.coverage": "ratio"})  # fmt: skip
    return units


def median(xs):
    return statistics.median(xs) if xs else 0.0


def describe(xs: list[float]) -> str:
    """Median, plus the highest percentile with at least ten samples beyond it."""
    if not xs:
        return "n=0"
    out = f"median {median(xs):.4f}"
    for permille in (999, 990, 900):
        if len(xs) * (1000 - permille) >= 10 * 1000:
            q = statistics.quantiles(xs, n=1000, method="inclusive")[permille - 1]
            out += f", p{permille / 10:g} {q:.4f}"
            break
    return out + f", n={len(xs)}"


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of a process and all its descendants,
    live or reaped. The kernel leaves out the time the host took the CPU
    away (steal), so this counts the program's own work."""
    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for child, (parent, _) in procs.items():
        children.setdefault(parent, []).append(child)
    ticks, todo = 0, [pid]
    while todo:
        p = todo.pop()
        ticks += procs.get(p, (0, 0))[1]
        todo.extend(children.get(p, []))
    return ticks / CLK_TCK


def host_cpu() -> tuple[float, float]:
    """(stolen, total) seconds over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7] / CLK_TCK, sum(ticks) / CLK_TCK


class Bench:
    """State of one run: engine handles, tracer, timings, failures."""

    def __init__(self, args, run_dir: str, sf_dir: str):
        from perfbench.trace import Tracer

        self.args = args
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", bool(args.trace))
        self.gen_s = self.gen_cpu_s = 0.0  # the benchmark's own input preparation, excluded from set-up
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}  # timing name -> samples
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.spark = self.window = self.jvm = None
        self.worker_spans: list[dict] = []
        self.cores = len(os.sched_getaffinity(0))

    def op(self, name: str, problems: list[str]) -> None:
        """Count one attempted operation; its problems make it a failure."""
        self.attempted += 1
        if problems:
            self.failures.append(f"{name}: {'; '.join(problems)}")

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def start_engine(self):
        from chyme_spark import registry, session

        from perfbench.trace import StageWindow

        with self.tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            self.spark = session.get_spark(f"perfbench_{self.args.workload}")
            self.layer["session.get_spark_s"] = time.perf_counter() - t0
        with self.tracer.span("registry.load_all"):
            t0 = time.perf_counter()
            reg = registry.load_all()
            self.layer["registry.load_all_s"] = time.perf_counter() - t0
        self.jvm = self.spark.sparkContext._gateway.proc
        self.window = StageWindow(self.spark.sparkContext)
        return reg

    def cpu(self) -> float:
        return cpu_seconds(os.getpid())

    def setup_done(self) -> None:
        self.e2e["setup_s"] = self.cpu() - self.gen_cpu_s
        self.layer["setup_wall_s"] = time.perf_counter() - T_START - self.gen_s
        self._host0 = host_cpu()

    def measure_done(self) -> None:
        stolen, total = (b - a for a, b in zip(self._host0, host_cpu()))
        self.layer["host.steal_ratio"] = stolen / total if total else 0.0

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm.pid)

    def stop_engine(self) -> None:
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)
        self.spark = None


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def run_query_mix(b: Bench) -> None:
    from chyme_spark.session import TABLES

    from perfbench import queries

    with b.tracer.span("setup"):
        reg = b.start_engine()
        with b.tracer.span("warm"):  # every member's first execution
            for name in queries.order(b.args.seed, -1):
                queries.run_member(b.spark, reg[name], b.sf_dir, b.tracer, b.window)
    b.setup_done()

    checked: dict[str, tuple] = {}
    per_member: dict[str, list] = {n: [] for n in queries.MEMBERS}
    with b.tracer.span("measure"):
        for n_pass in range(max(1, round(b.args.seconds / queries.PASS_S))):
            with b.tracer.span("pass"):
                for name in queries.order(b.args.seed, n_pass):
                    try:
                        c0 = b.cpu()
                        run, table, dtypes = queries.run_member(b.spark, reg[name], b.sf_dir, b.tracer, b.window)
                        run.cpu_s = b.cpu() - c0
                    except Exception as e:  # noqa: BLE001 — a failing member is counted, the run goes on
                        traceback.print_exc()
                        b.op(name, [f"{type(e).__name__}: {e}"])
                        continue
                    per_member[name].append(run)
                    b.sample(f"q.{name}.s", run.s)
                    b.sample(f"q.{name}.cpu_s", run.cpu_s)
                    checked.setdefault(name, (table, dtypes))
                    if n_pass > 0:
                        b.op(name, [])
    b.measure_done()
    b.layer["peak_rss_mb"] = b.peak_rss_mb()

    with b.tracer.span("oracle"):  # after the peak-memory reading: DuckDB runs in this process
        expected = queries.expectations(reg, b.sf_dir, TABLES, os.path.join(WORK, "oracle"))
    with b.tracer.span("check"):
        for name in queries.MEMBERS:
            if name in checked:  # one checked execution per member per run
                b.op(name, queries.check_member(*checked[name], expected[name]))

    medians = {n: median([r.s for r in runs]) for n, runs in per_member.items() if runs}
    cpu = [median([r.cpu_s for r in runs]) for runs in per_member.values() if runs]
    b.e2e["pass_cpu_s"] = sum(cpu)  # one pass, each member at its median
    b.e2e["query_cpu_geomean_s"] = _geomean(cpu)
    b.layer["pass_s"] = sum(medians.values())
    b.layer["query_geomean_s"] = _geomean(list(medians.values()))
    for name, s in medians.items():
        b.layer[f"q.{name}.s"] = s
    for m in queries.MODULES:
        mine = [rs for n, rs in per_member.items() if rs and reg[n].fn.__module__.endswith(f".{m}")]
        wall = sum(r.s for rs in mine for r in rs)
        run_ms = sum(r.counters.run_ms for rs in mine for r in rs)
        b.layer.update({
            f"ops.{m}.build_s": _per_pass(mine, lambda r: r.build_s),
            f"ops.{m}.exec_s": _per_pass(mine, lambda r: r.exec_s),
            f"ops.{m}.tasks": _per_pass(mine, lambda r: r.counters.tasks),
            f"ops.{m}.core_util": run_ms / 1000 / (wall * b.cores) if wall else 0.0,
            f"ops.{m}.shuffle_bytes": _per_pass(mine, lambda r: r.counters.shuffle_bytes),
            f"ops.{m}.spill_bytes": _per_pass(mine, lambda r: r.counters.spill_bytes),
        })  # fmt: skip


def _per_pass(members: list[list], key) -> float:
    """One pass's total of ``key``: each member at its median over its runs."""
    return sum(median([key(r) for r in runs]) for runs in members)


def run_etl_pipeline(b: Bench) -> None:
    from chyme_spark import catalog, cli, runner

    from perfbench import checks, etl

    t0, c0 = time.perf_counter(), b.cpu()
    warm = etl.Pipeline(os.path.join(b.run_dir, "warm"), f"{b.args.seed}:warm")
    warm.tree.arrive(warm.tree.batch(etl.WARM))
    warm_round = warm.tree.batch(etl.WARM_ROUND)
    b.gen_s += time.perf_counter() - t0
    b.gen_cpu_s += b.cpu() - c0

    tracing = None
    with b.tracer.span("setup"):
        b.start_engine()
        if b.tracer.enabled:
            span_dir = os.path.join(b.run_dir, "spans")
            os.makedirs(span_dir)
            tracing = etl.EtlTracing(b.tracer, b.window, span_dir, b.cores)
            tracing.install(cli, catalog, runner)
        with b.tracer.span("warm"):  # the first bulk, round and idle verb of this JVM
            for kind, arrivals in (("bulk", []), ("round", warm_round), ("idle", [])):
                before = warm.state()
                warm.tree.arrive(arrivals)
                warm.run(cli)
                after = warm.state()
                idle = checks.check_idempotent(before, after) if kind == "idle" else []
                b.op(f"warm.{kind}", warm.check(after) + idle)
    b.setup_done()

    layers: dict[str, list[dict]] = {"bulk": [], "round": []}

    def phase(pipe, kind: str, label: str, arrivals) -> None:
        """Arrival, one pipeline verb, then the output checks."""
        before = pipe.state()
        pipe.tree.arrive(arrivals)
        if tracing:
            tracing.phase = {}
        try:
            c0 = b.cpu()
            with b.tracer.span(label):
                wall = pipe.run(cli)
            cpu = b.cpu() - c0
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            traceback.print_exc()
            b.op(label, [f"{type(e).__name__}: {e}"])
            return
        with b.tracer.span("check"):
            after = pipe.state()
            problems = pipe.check(after)
            if kind == "idle":
                problems += checks.check_idempotent(before, after)
        b.op(label, problems)
        b.sample(f"{kind}_s", wall)
        b.sample(f"{kind}_cpu_s", cpu)
        if kind == "bulk":
            b.sample("tasks_per_s", (len(after.ledger) + len(after.quarantine)) / wall)
        if tracing and kind in layers:
            layers[kind].append(_etl_layers(b, tracing, before, after, pipe))

    with b.tracer.span("measure"):
        for n_cycle in range(max(1, round(b.args.seconds / etl.CYCLE_S))):
            # a cycle's inputs, generated outside the timed verbs
            pipe = etl.Pipeline(os.path.join(b.run_dir, f"etl{n_cycle}"), f"{b.args.seed}:{n_cycle}")
            pipe.tree.arrive(pipe.tree.batch(etl.BULK))
            arrivals = pipe.tree.batch(etl.ROUND)
            for kind, batch in (("bulk", []), ("round", arrivals), ("idle", [])):
                phase(pipe, kind, f"{kind}{n_cycle}", batch)
    b.measure_done()
    if tracing:
        tracing.uninstall()
    b.layer["peak_rss_mb"] = b.peak_rss_mb()
    kinds = ("bulk", "round", "idle")
    cpu = [median(b.samples[f"{k}_cpu_s"]) for k in kinds if b.samples.get(f"{k}_cpu_s")]
    b.e2e["pass_cpu_s"] = sum(cpu)  # one cycle, each verb at its median
    b.e2e["query_cpu_geomean_s"] = _geomean(cpu)
    walls = [median(b.samples[f"{k}_s"]) for k in kinds if b.samples.get(f"{k}_s")]
    b.layer["pass_s"] = sum(walls)
    b.layer["query_geomean_s"] = _geomean(walls)
    b.layer["tasks_per_s"] = median(b.samples.get("tasks_per_s", []))
    b.layer["round_s"] = median(b.samples.get("round_s", []))
    for kind, recs in layers.items():
        for key in _ETL_UNITS:
            b.layer[f"{kind}.{key}"] = median([r[key] for r in recs if key in r])


def _etl_layers(b: Bench, tracing, before, after, pipe) -> dict[str, float]:
    """Per-layer record of one traced pipeline phase."""
    rec = {k: v for k, v in tracing.phase.items() if k != "worker_span"}
    spans = tracing.worker_spans(tracing.phase.get("worker_span", -1))
    b.worker_spans.extend(spans)
    for name in ("download", "execute", "upload"):
        durs = [s["end"] - s["start"] for s in spans if s["name"] == f"runner.{name}"]
        b.samples.setdefault(f"runner.{name}_s", []).extend(durs)
        rec[f"runner.{name}_p50_s"] = median(durs)
    attempted = sum(s["name"] == "runner.download" for s in spans)
    finalized = len(after.ledger) + len(after.quarantine) - len(before.ledger) - len(before.quarantine)
    rec.update({
        "ingest.cataloged": len(after.catalog_urls) - len(before.catalog_urls),
        "tasker.created": len(after.tasks) - len(before.tasks),
        "runner.attempted": attempted,
        "runner.completed": len(after.ledger) - len(before.ledger),
        "runner.useful_ratio": finalized / attempted if attempted else 0.0,
        "tables.files": pipe.parquet_files(),
    })  # fmt: skip
    return rec


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def _environment(b: Bench) -> dict:
    import duckdb
    import pyspark

    env = {"nproc": b.cores, "python": platform.python_version(), "spark": pyspark.__version__,
           "duckdb": duckdb.__version__, "seed": b.args.seed, "workload": b.args.workload,
           "trace": b.args.trace, "sf_dir": b.sf_dir}  # fmt: skip
    if b.spark is not None:
        env["master"] = b.spark.sparkContext.master
        env["shuffle_partitions"] = int(b.spark.conf.get("spark.sql.shuffle.partitions"))
    return env


def _report(b: Bench, env: dict) -> None:
    print("== environment")
    for k, v in env.items():
        print(f"  {k:20s} {v}")
    print("== timings (seconds)")
    for name in sorted(b.samples):
        print(f"  {name:40s} {describe(b.samples[name])}")
    print(f"== end-to-end metrics ({'traced run' if b.args.trace else 'untraced'})")
    for name, unit in END_TO_END.items():
        print(f"  {name:40s} {b.e2e.get(name, float('nan')):.6g} {unit}")
    print(f"  {'error_rate':40s} {b.layer['error_rate']:.6g} ratio  ({len(b.failures)} of {b.attempted} failed)")
    for name, unit in (("pass_s", "s"), ("query_geomean_s", "s"), ("setup_wall_s", "s"),
                       ("host.steal_ratio", "ratio"), ("peak_rss_mb", "MB")):  # fmt: skip
        print(f"  {name:40s} {b.layer.get(name, 0.0):.6g} {unit}")
    if b.args.trace:
        print("== per-layer metrics")
        for name, unit in _per_layer_units().items():
            print(f"  {name:40s} {b.layer.get(name, 0.0):.6g} {unit}")
    for f in b.failures:
        print(f"  FAILED {f}")


def _trace_summary(b: Bench) -> None:
    """Fill trace.* metrics and write the trace file."""
    root = b.tracer.spans[0]
    wall = root.end - root.start
    self_s = b.tracer.self_times()
    b.layer["trace.coverage"] = (sum(self_s.values()) - self_s[root.name]) / wall
    walls_path = os.path.join(WORK, "walls", f"{b.args.workload}.json")
    try:
        with open(walls_path) as f:
            untraced = median(json.load(f))
        b.layer["trace.overhead_s"] = b.layer["pass_s"] - untraced
    except (OSError, ValueError):
        b.layer["trace.overhead_s"] = b.tracer.bookkeeping_s
    path = os.path.join(WORK, "traces", f"{b.args.workload}-seed{b.args.seed}.json")
    b.tracer.dump(path, b.worker_spans,
                  {"layer_metrics": b.layer})  # fmt: skip
    print(f"== trace written to {os.path.relpath(path, ROOT)}")
    print(f"  {'layer self time':40s} seconds")
    for name, s in sorted(self_s.items(), key=lambda kv: -kv[1])[:25]:
        print(f"  {name:40s} {s:.4f}")


def _record_untraced_wall(b: Bench) -> None:
    path = os.path.join(WORK, "walls", f"{b.args.workload}.json")
    try:
        with open(path) as f:
            walls = json.load(f)
    except (OSError, ValueError):
        walls = []
    walls = (walls + [b.layer["pass_s"]])[-10:]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(walls, f)


def _fixture_dir() -> str:
    """The sf0.1 fixture directory: in the repository's fixture root, as
    ``__spark_entry__.SMOKE_SF_DIR`` names it, unless overridden."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("_perfbench_entry", os.path.join(ROOT, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    return os.environ.get("PERFBENCH_SF_DIR", os.path.join(os.path.dirname(entry.SMOKE_SF_DIR), "sf0.1"))


def _prepare_env(run_dir: str, cores: int) -> None:
    """Engine on local[<cores>], every scratch write inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured time: as many whole passes or cycles as take about this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import chyme_spark  # noqa: F401
    except ImportError as e:
        print(f"error: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    sf_dir = _fixture_dir()
    if not os.path.isdir(sf_dir):
        print(f"error: input tables {sf_dir} are missing", file=sys.stderr)
        return 2
    from perfbench import checks

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir, cores)
    if broken := checks.selftest():
        print(f"error: output checker missed injected faults: {broken}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    b = Bench(args, run_dir, sf_dir)
    workload = {"etl_pipeline": run_etl_pipeline, "query_mix": run_query_mix}[args.workload]
    env = {}
    try:
        with b.tracer.span("run"):
            try:
                workload(b)
            except Exception as e:  # noqa: BLE001 — report the failure, still clean up
                traceback.print_exc()
                b.op("workload", [f"{type(e).__name__}: {e}"])
            env = _environment(b)
            with b.tracer.span("teardown"):
                b.stop_engine()
    finally:
        if b.spark is not None:
            b.stop_engine()
        shutil.rmtree(run_dir, ignore_errors=True)

    if b.tracer.enabled and b.layer.get("pass_s"):
        _trace_summary(b)
    elif b.layer.get("pass_s") and not b.failures:
        _record_untraced_wall(b)
    b.layer["error_rate"] = len(b.failures) / max(b.attempted, 1)
    _report(b, env)
    units = _per_layer_units() if args.trace else END_TO_END
    metrics = {n: b.layer.get(n, 0.0) for n in units} if args.trace else b.e2e
    correct = not b.failures and all(n in metrics for n in units)
    result = {
        "correct": correct,
        "attempted": max(b.attempted, 1),
        "failed": len(b.failures) if b.attempted else 1,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items() if n in metrics},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())

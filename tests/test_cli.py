"""CLI verbs driven in-process (regression net for the command layer)."""

from __future__ import annotations

import os

from chyme_spark import cli


def test_pipeline_verb_end_to_end(spark, tmp_path):
    src = tmp_path / "media"
    src.mkdir()
    (src / "a.mov").write_bytes(b"A" * 100)
    (src / "b.mp4").write_bytes(b"B" * 50)
    (src / "skip.log").write_bytes(b"z")
    t = tmp_path / "tables"
    args = [
        "pipeline", str(src), "--filter", "ext/mov/mp4",
        "--catalog", f"{t}/catalog", "--ledger", f"{t}/ledger",
        "--tasks", f"{t}/tasks", "--quarantine", f"{t}/quar",
        "--mirror-base", f"file://{t}/mirror", "--executor", "subprocess",
        "--cmd", 'for f in "$IN"/*; do wc -c < "$f" > "$OUT/$(basename $f).size"; done',
    ]
    assert cli.main(args) == 0
    produced = []
    for root, _d, files in os.walk(f"{t}/mirror"):
        produced += [f for f in files if f.endswith(".size")]
    assert sorted(produced) == ["a.mov.size", "b.mp4.size"]
    # idempotent rerun: no new tasks, no failures
    assert cli.main(args) == 0
    ledger = spark.read.parquet(f"{t}/ledger")
    assert ledger.count() == 2  # still exactly one ledger row per task


def _logged_pipeline(tmp_path, files: dict[str, bytes]):
    """A source tree of ``files`` and ``pipeline`` args whose payload logs
    each input's name to ``runs.log`` and rejects POISON inputs; returns
    (args, tables dir, payload_runs)."""
    src = tmp_path / "media"
    src.mkdir()
    for name, body in files.items():
        (src / name).write_bytes(body)
    runs = tmp_path / "runs.log"
    t = tmp_path / "tables"
    args = [
        "pipeline", str(src), "--filter", "ext/mov",
        "--catalog", f"{t}/catalog", "--ledger", f"{t}/ledger",
        "--tasks", f"{t}/tasks", "--quarantine", f"{t}/quarantine",
        "--mirror-base", f"file://{t}/mirror", "--executor", "subprocess",
        "--cmd", (
            f'for f in "$IN"/*; do basename "$f" >> {runs}; '
            'if [ "$(head -c 6 "$f")" = POISON ]; then exit 3; fi; done; '
            'cp -R "$IN"/. "$OUT"/'
        ),
    ]

    def payload_runs() -> list[str]:
        return sorted(runs.read_text().split()) if runs.exists() else []

    return args, t, payload_runs


def _worker(t) -> list[str]:
    return ["worker", "--tasks", f"{t}/tasks", "--ledger", f"{t}/ledger",
            "--quarantine", f"{t}/quarantine"]  # fmt: skip


GOOD_AND_POISON = {"good.mov": b"CHYME" + b"g" * 40, "bad.mov": b"POISON" + b"p" * 40}


def test_pipeline_runs_each_failing_task_once(spark, tmp_path, capsys):
    """A failed task is a dead letter: it leaves the work queue, and a
    later verb does not run it again. ``worker --redrive`` retries it
    once, with the quarantine table already in place — its ledger append
    must not make the quarantine write run the failing payload again —
    and a failure that repeats adds no second quarantine row."""
    args, t, payload_runs = _logged_pipeline(tmp_path, GOOD_AND_POISON)
    worker = _worker(t)
    status = ["status"] + _worker(t)[1:]
    assert cli.main(args) == 0
    assert payload_runs() == ["bad.mov", "good.mov"]
    assert spark.read.parquet(f"{t}/quarantine").count() == 1
    (tmp_path / "runs.log").unlink()
    assert cli.main(args) == 0
    assert payload_runs() == []  # dead letters are not retried
    capsys.readouterr()
    assert cli.main(status) == 0
    out = capsys.readouterr().out
    assert "pending    0" in out and "dead letters 1" in out
    assert cli.main(worker + ["--redrive"]) == 0
    assert payload_runs() == ["bad.mov"]  # a dropped cache() ran it twice
    assert "completed 0 tasks; quarantined 1" in capsys.readouterr().out
    assert spark.read.parquet(f"{t}/quarantine").count() == 1
    assert spark.read.parquet(f"{t}/ledger").count() == 1
    assert cli.main(worker + ["--redrive", "--follow"]) == 2


def test_pipeline_on_paths_with_special_characters(spark, tmp_path, capsys):
    """Paths are raw text from listing to upload: a root holding a
    space, a `d#1/` subdirectory, `?` and `%20` in names, and a payload
    that writes a subdirectory. Every task completes, none is
    dead-lettered, and the nested output is mirrored."""
    src = tmp_path / "my videos"
    (src / "d#1").mkdir(parents=True)
    inputs = {"top.mov": 10, "d#1/a.mov": 20, "d#1/b?.mov": 30, "d#1/c%20d.mov": 40}
    for rel, size in inputs.items():
        (src / rel).write_bytes(b"x" * size)
    t = tmp_path / "tables"
    args = [
        "pipeline", str(src), "--filter", "ext/mov",
        "--catalog", f"{t}/catalog", "--ledger", f"{t}/ledger",
        "--tasks", f"{t}/tasks", "--quarantine", f"{t}/quarantine",
        "--mirror-base", f"file://{t}/mirror", "--executor", "subprocess",
        "--cmd", (
            'mkdir "$OUT/sub" && for f in "$IN"/*; do '
            'wc -c < "$f" | tr -d " " > "$OUT/sub/$(basename "$f").size"; done'
        ),
    ]
    assert cli.main(args) == 0
    capsys.readouterr()
    assert cli.main(["status"] + _worker(t)[1:]) == 0
    out = capsys.readouterr().out
    # all done, and no quarantine table: nothing was dead-lettered
    assert "pending    0" in out and "quarantine -" in out, out
    assert spark.read.parquet(f"{t}/ledger").count() == len(inputs)
    for rel, size in inputs.items():
        # <mirror>/<bucket, empty for file://>/<key>/ + the payload's sub/
        mirrored = t / "mirror" / str(src / rel).lstrip("/") / "sub" / (rel.split("/")[-1] + ".size")
        assert mirrored.read_text().strip() == str(size), rel


def test_worker_without_tasks_table(spark, tmp_path, capsys):
    assert cli.main(_worker(tmp_path / "tables")) == 0
    assert "completed 0 tasks; quarantined 0" in capsys.readouterr().out


def test_corrupt_ledger_fails_the_worker(spark, tmp_path):
    """An unreadable ledger is an error, never "no ledger yet": reading
    it as empty would run every completed task's payload again."""
    args, t, payload_runs = _logged_pipeline(tmp_path, {"good.mov": b"CHYME" + b"g" * 40})
    assert cli.main(args) == 0
    assert payload_runs() == ["good.mov"]
    (tmp_path / "runs.log").unlink()
    ledger = t / "ledger"
    parts = [p for p in ledger.iterdir() if p.suffix == ".parquet"]
    assert parts
    for p in parts:
        p.write_bytes(b"not a parquet file")
        (ledger / f".{p.name}.crc").unlink(missing_ok=True)
    try:
        rc = cli.main(_worker(t))
    except Exception:  # noqa: BLE001 — failing by exception is failing
        rc = None
    assert rc != 0
    assert payload_runs() == []


def _hashes(spark, path) -> set[str]:
    return {r.task_hash for r in spark.read.parquet(str(path)).select("task_hash").collect()}


def test_pipeline_tables_match_their_schemas(spark, tmp_path):
    """Every table a pipeline verb writes has exactly the schema
    ``tables.read`` reads it with, by field names and types."""
    from chyme_spark import tables

    args, t, _runs = _logged_pipeline(tmp_path, GOOD_AND_POISON)
    assert cli.main(args) == 0
    for kind, schema in tables.SCHEMAS.items():
        written = spark.read.parquet(str(t / kind)).schema
        assert [(f.name, f.dataType) for f in written] == [
            (f.name, f.dataType) for f in schema
        ], kind


def test_tasks_table_contains_the_ledger(spark, tmp_path):
    """The tasker anti-joins the tasks table alone, which is enough only
    while every ledger hash is also in the tasks table: after a pipeline
    verb, a streaming worker drain and a compaction of the tasks table."""
    args, t, payload_runs = _logged_pipeline(tmp_path, GOOD_AND_POISON)
    assert cli.main(args) == 0
    assert _hashes(spark, t / "ledger") <= _hashes(spark, t / "tasks")

    (tmp_path / "media" / "more.mov").write_bytes(b"CHYME" + b"m" * 40)
    common = ["--catalog", f"{t}/catalog", "--tasks", f"{t}/tasks"]
    assert cli.main(["ingest", str(tmp_path / "media"), "--filter", "ext/mov",
                     "--catalog", f"{t}/catalog"]) == 0  # fmt: skip
    assert cli.main(["tasker"] + common + args[args.index("--mirror-base"):]) == 0
    assert cli.main(_worker(t) + ["--follow"]) == 0
    assert len(_hashes(spark, t / "ledger")) == 2
    assert _hashes(spark, t / "ledger") <= _hashes(spark, t / "tasks")

    assert cli.main(["compact", "--table", f"{t}/tasks"]) == 0
    (tmp_path / "runs.log").unlink()
    assert cli.main(args) == 0  # idle: no task re-created, none re-run
    assert payload_runs() == []
    assert spark.read.parquet(f"{t}/tasks").count() == 3
    assert _hashes(spark, t / "ledger") <= _hashes(spark, t / "tasks")


def test_idle_pipeline_verb_job_budget(spark, tmp_path):
    """A ``pipeline`` verb with nothing new to do runs at most 10 Spark
    jobs (22 when every table read inferred its schema and every verb
    re-ran the dead letters) and starts no payload."""
    args, _t, payload_runs = _logged_pipeline(tmp_path, GOOD_AND_POISON)
    assert cli.main(args) == 0
    (tmp_path / "runs.log").unlink()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    assert cli.main(args) == 0
    assert dag.nextJobId() - first <= 10
    assert payload_runs() == []


def test_ingest_once_counts_malformed(spark, tmp_path):
    """_ingest_once returns (rows cataloged, malformed rows skipped),
    both counted by its one write job — for a remote URL with no key,
    an empty root and a root with nothing the filter wants."""
    cat = str(tmp_path / "catalog")
    assert cli._ingest_once(spark, "s3://only-bucket", "identity/", None, cat) == (0, 1)
    (tmp_path / "empty").mkdir()
    assert cli._ingest_once(spark, str(tmp_path / "empty"), "ext/mov", None, cat) == (0, 0)
    src = tmp_path / "m"
    src.mkdir()
    (src / "a.log").write_bytes(b"z")
    assert cli._ingest_once(spark, str(src), "ext/mov", None, cat) == (0, 0)
    (src / "b.mov").write_bytes(b"B")
    assert cli._ingest_once(spark, str(src), "ext/mov", None, cat) == (1, 0)
    assert cli._ingest_once(spark, str(src), "ext/mov", None, cat) == (0, 0)
    assert spark.read.parquet(cat).count() == 1


def test_worker_follow_streams_tasks(spark, tmp_path, capsys):
    """--follow drains the tasks table via Structured Streaming; a second
    drain after more tasks are enqueued processes ONLY the new files
    (stream checkpoint), and the ledger stays one-row-per-task."""
    src = tmp_path / "media"
    src.mkdir()
    (src / "a.mov").write_bytes(b"A" * 100)
    t = tmp_path / "tables"
    common = [
        "--catalog", f"{t}/catalog", "--tasks", f"{t}/tasks",
    ]
    tasker = common + [
        "--mirror-base", f"file://{t}/mirror", "--executor", "subprocess",
        "--cmd", 'for f in "$IN"/*; do wc -c < "$f" > "$OUT/$(basename $f).size"; done',
    ]
    worker = [
        "worker", "--tasks", f"{t}/tasks", "--ledger", f"{t}/ledger",
        "--quarantine", f"{t}/quar", "--follow",
    ]
    assert cli.main(["ingest", str(src), "--filter", "ext/mov", "--catalog", f"{t}/catalog"]) == 0
    assert cli.main(["tasker"] + tasker) == 0
    assert cli.main(worker) == 0
    assert "completed 1 tasks" in capsys.readouterr().out
    assert spark.read.parquet(f"{t}/ledger").count() == 1

    # enqueue one more resource; the second drain sees only the new task
    (src / "b.mov").write_bytes(b"B" * 60)
    assert cli.main(["ingest", str(src), "--filter", "ext/mov", "--catalog", f"{t}/catalog"]) == 0
    assert cli.main(["tasker"] + tasker) == 0
    assert cli.main(worker) == 0
    assert "completed 1 tasks" in capsys.readouterr().out
    ledger = spark.read.parquet(f"{t}/ledger")
    assert ledger.count() == 2
    assert ledger.select("task_hash").distinct().count() == 2

    # an immediate re-drain with nothing new is a no-op
    assert cli.main(worker) == 0
    assert "completed 0 tasks" in capsys.readouterr().out


def test_worker_follow_interval_long_poll(spark, tmp_path, capsys):
    """--follow-interval turns the drain into a perpetual processingTime
    long-poll (ref worker 20s loop): ONE follow run picks up a second
    task batch appended while it is already running."""
    import threading
    import time

    src = tmp_path / "media"
    src.mkdir()
    (src / "a.mov").write_bytes(b"A" * 100)
    t = tmp_path / "tables"
    tasker = [
        "--catalog", f"{t}/catalog", "--tasks", f"{t}/tasks",
        "--mirror-base", f"file://{t}/mirror", "--executor", "subprocess",
        "--cmd", 'for f in "$IN"/*; do wc -c < "$f" > "$OUT/$(basename $f).size"; done',
    ]
    assert cli.main(["ingest", str(src), "--filter", "ext/mov", "--catalog", f"{t}/catalog"]) == 0
    assert cli.main(["tasker"] + tasker) == 0

    def ledger_count() -> int:
        try:
            return spark.read.parquet(f"{t}/ledger").count()
        except Exception:  # noqa: BLE001 — ledger not written yet
            return 0

    worker = [
        "worker", "--tasks", f"{t}/tasks", "--ledger", f"{t}/ledger",
        "--quarantine", f"{t}/quar", "--follow",
        "--follow-interval", "1 seconds", "--follow-duration", "120",
    ]
    rc: dict[str, int] = {}
    th = threading.Thread(target=lambda: rc.setdefault("rc", cli.main(worker)))
    th.start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and ledger_count() < 1:
            time.sleep(0.5)
        assert ledger_count() == 1
        # enqueue a second batch WHILE the poll loop is live
        (src / "b.mov").write_bytes(b"B" * 60)
        assert cli.main(["ingest", str(src), "--filter", "ext/mov", "--catalog", f"{t}/catalog"]) == 0
        assert cli.main(["tasker"] + tasker) == 0
        while time.time() < deadline and ledger_count() < 2:
            time.sleep(0.5)
    finally:
        for q in spark.streams.active:
            q.stop()
        th.join(timeout=60)
    assert not th.is_alive()
    assert rc.get("rc") == 0
    assert "long-poll every 1 seconds" in capsys.readouterr().out
    ledger = spark.read.parquet(f"{t}/ledger")
    assert ledger.count() == 2
    assert ledger.select("task_hash").distinct().count() == 2


def test_ingest_bad_filter_clean_error(spark, tmp_path, capsys):
    src = tmp_path / "m"
    src.mkdir()
    (src / "a.mov").write_bytes(b"A")
    rc = cli.main(["ingest", str(src), "--filter", "nope/x", "--catalog", str(tmp_path / "c")])
    assert rc == 2
    assert "unknown filter" in capsys.readouterr().err


def test_ingest_distributed_listing_catalogs_same_rows(spark, tmp_path):
    """--distributed-listing (the chyme_listing source on executors) and
    plain ingest (list_files on the driver) catalog the same rows, with
    and without a --recursion bound."""
    src = tmp_path / "media"
    for rel, body in {
        "a.mov": b"A", "top.log": b"z", "x/b.mp4": b"BB",
        "x/y/c.mov": b"CCC", "z/d.mov": b"D",
    }.items():
        (src / rel).parent.mkdir(parents=True, exist_ok=True)
        (src / rel).write_bytes(body)
    for extra in ([], ["--recursion", "1"]):
        cats = {}
        for mode in ("plain", "distributed"):
            cat = str(tmp_path / f"{mode}{len(extra)}")
            flags = ["--distributed-listing"] if mode == "distributed" else []
            args = ["ingest", str(src), "--filter", "ext/mov/mp4", "--catalog", cat]
            assert cli.main(args + extra + flags) == 0
            cats[mode] = {tuple(r) for r in spark.read.parquet(cat).collect()}
        assert cats["distributed"] == cats["plain"], extra
        assert len(cats["plain"]) == (4 if not extra else 3), extra


def test_tasker_takes_no_ledger(spark, tmp_path, capsys):
    """The tasker anti-joins the tasks table alone, so it is run with
    the catalog and the tasks table only."""
    src = tmp_path / "m"
    src.mkdir()
    (src / "a.mov").write_bytes(b"A" * 10)
    t = tmp_path / "tables"
    assert cli.main(["ingest", str(src), "--filter", "ext/mov", "--catalog", f"{t}/catalog"]) == 0
    assert cli.main(["tasker", "--catalog", f"{t}/catalog", "--tasks", f"{t}/tasks"]) == 0
    assert "created 1 tasks" in capsys.readouterr().out


def test_s3_option_needs_the_listing_source(tmp_path, capsys):
    """--s3-option is read only by the chyme_listing source (--follow,
    --distributed-listing): with the driver listing or a single-object
    URL nothing would read it, so the verb exits 2 instead of ignoring
    it; a malformed pair exits 2 on the listing path too."""
    cat = str(tmp_path / "c")
    opt = ["--s3-option", "region=us-east-1"]
    for argv in (
        [str(tmp_path), "--catalog", cat, *opt],
        ["s3://bucket/one.mov", "--catalog", cat, *opt],
        [str(tmp_path), "--catalog", cat, "--distributed-listing", "--s3-option", "region"],
    ):
        assert cli.main(["ingest", *argv]) == 2, argv
        assert "--s3-option" in capsys.readouterr().err, argv


def test_status_verb(spark, tmp_path, capsys):
    t = tmp_path / "tables"
    src = tmp_path / "m"
    src.mkdir()
    (src / "a.mov").write_bytes(b"A" * 10)
    assert cli.main(["ingest", str(src), "--filter", "ext/mov", "--catalog", f"{t}/catalog"]) == 0
    assert cli.main(["status", "--catalog", f"{t}/catalog", "--tasks", f"{t}/tasks"]) == 0
    out = capsys.readouterr().out
    assert "catalog    1" in out
    assert "tasks      -" in out  # not created yet


def test_compact_verb(spark, tmp_path, capsys):
    t = str(tmp_path / "t")
    spark.range(0, 5000).repartition(9).write.parquet(t)
    assert len(spark.read.parquet(t).inputFiles()) == 9
    assert cli.main(["compact", "--table", t, "--target-files", "2"]) == 0
    assert len(spark.read.parquet(t).inputFiles()) == 2
    assert spark.read.parquet(t).count() == 5000


def test_query_verb_runs(spark, capsys):
    rc = cli.main(["query", "d15_count_distinct", "--sf", "/root/testdata/sf0.001", "--show", "3"])
    assert rc == 0
    assert "rows" in capsys.readouterr().out


def test_sql_verb_runs(spark, capsys):
    rc = cli.main(
        [
            "sql",
            "SELECT r_name, count(*) AS n FROM region JOIN nation ON r_regionkey = n_regionkey GROUP BY r_name ORDER BY r_name",
            "--sf",
            "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "5 rows" in out


def test_sql_verb_extra_table(spark, tmp_path, capsys):
    p = str(tmp_path / "extra")
    spark.range(7).write.parquet(p)
    rc = cli.main(["sql", "SELECT count(*) AS n FROM extra", "--sf", "/root/testdata/sf0.001", "--table", f"extra={p}"])
    assert rc == 0
    assert "1 rows" in capsys.readouterr().out


def test_sql_verb_bad_table_arg(spark, capsys):
    rc = cli.main(["sql", "SELECT 1", "--sf", "/root/testdata/sf0.001", "--table", "nopath"])
    assert rc == 2
    assert "NAME=PATH" in capsys.readouterr().err


def test_compact_zorder_prunes_both_columns(spark, tmp_path):
    """Z-ordered rewrite: every output file must cover a strict subset
    of BOTH clustered columns' ranges (a plain single-column sort only
    narrows one; an unsorted layout narrows neither)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    t = str(tmp_path / "zt")
    # two independent uniform dimensions, deterministic
    spark.range(20000).select(
        F.col("id"),
        (F.pmod(F.xxhash64("id"), 10000) / 10000.0).alias("a"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 10000) / 10000.0).alias("b"),
    ).repartition(8).write.parquet(t)
    assert cli.main(["compact", "--table", t, "--target-files", "4", "--zorder", "a,b"]) == 0

    files = spark.read.parquet(t).inputFiles()
    assert len(files) == 4
    for colname in ("a", "b"):
        spans = []
        for f in files:
            md = pq.ParquetFile(f.removeprefix("file:")).metadata
            idx = md.schema.names.index(colname)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
        # Derived bound (VERDICT r6 #3 — the old 0.75 failed once at
        # 0.7503 under concurrent load): with 4 range partitions over a
        # 2-dim z-curve each file ideally spans 0.5 of each dimension
        # (the top two z bits are the two columns' high bucket bits).
        # Each of the 3 interior range boundaries that lands INSIDE a
        # quadrant (repartitionByRange samples, so alignment is not
        # guaranteed) doubles one dimension's span in the two adjacent
        # files; the worst split-every-boundary mean is therefore
        # (2*0.5 + 2*1.0)/4 = 0.75 per dimension, plus approxQuantile
        # (0.001) and 256-bucket quantization error. An UNclustered
        # column concentrates at ~1.0 (every file sees the full range),
        # so 0.85 keeps the full discriminating power with real margin.
        assert sum(spans) / len(spans) < 0.85, (colname, spans)
    # rows survived the rewrite
    assert spark.read.parquet(t).count() == 20000


def test_profile_verb(spark, capsys):
    rc = cli.main(["profile", "--table", "/root/testdata/sf0.001/nation.parquet"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "rows: 25" in out and "n_nationkey" in out


def test_convert_verb_roundtrip(spark, tmp_path, capsys):
    src = "/root/testdata/sf0.001/region.parquet"
    dst = str(tmp_path / "region_orc")
    rc = cli.main(["convert", "--src", src, "--dst", dst, "--dst-format", "orc"])
    assert rc == 0
    assert spark.read.orc(dst).count() == 5
    rc2 = cli.main(["convert", "--src", src, "--dst", str(tmp_path / "x"), "--dst-format", "delta"])
    assert rc2 == 2  # gated format -> clean error, not a stacktrace


def test_readme_counts_match_registry():
    """The README scoreboard number is generated, not hand-maintained:
    this fails the suite the moment the registry grows past the stated
    count (r3 item 10)."""
    import os
    import re

    from chyme_spark.cli import query_counts

    total, n_oracle, n_rows_only = query_counts()
    readme = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md")
    ).read()
    m = re.search(
        r"\*\*(\d+) registered queries\*\* \((\d+) DuckDB-oracle hash-checked,\s*(\d+)\s*rows-only",
        readme,
    )
    assert m, "README scoreboard line missing"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (total, n_oracle, n_rows_only)


def test_queries_md_is_fresh():
    """The committed QUERIES.md must be byte-identical to what the
    generator emits at HEAD — its header promises the first 50 rows
    are the CURRENT driver window (``registry.window_order`` over the
    oracle ledger and the CORRECTNESS history). Regenerate with
    `python tools/gen_queries_md.py` whenever the registry, the ledger
    or a CORRECTNESS file changes."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", os.path.join(root, "tools", "gen_queries_md.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    committed = open(os.path.join(root, "QUERIES.md")).read()
    assert gen.render()[0] == committed, (
        "QUERIES.md is stale — run `python tools/gen_queries_md.py`"
    )


def test_ls_queries_prints_counts(capsys):
    from chyme_spark import cli
    from chyme_spark.cli import query_counts

    total, n_oracle, n_rows_only = query_counts()
    rc = cli.main(["ls-queries"])
    assert rc == 0
    out = capsys.readouterr().out
    assert f"-- {total} registered queries ({n_oracle} DuckDB-oracle hash-checked, " in out


def test_ingest_follow_streams_new_arrivals(spark, tmp_path, capsys):
    """ingest --follow catalogs via the chyme_listing streaming source:
    first drain catalogs the existing files, a second drain after a new
    arrival appends ONLY it (stream checkpoint + exactly-once), and the
    extension filter applies inside every micro-batch."""
    import time

    src = tmp_path / "inbox"
    src.mkdir()
    (src / "a.mov").write_bytes(b"A" * 10)
    (src / "skip.log").write_bytes(b"z")
    cat = str(tmp_path / "catalog")
    args = [
        "ingest", str(src), "--filter", "ext/mov/mp4",
        "--catalog", cat, "--follow",
    ]
    assert cli.main(args) == 0
    rows = spark.read.parquet(cat).collect()
    assert [r.url.rsplit("/", 1)[-1] for r in rows] == ["a.mov"]

    time.sleep(0.05)  # distinct mtime millisecond for the arrival
    (src / "b.mp4").write_bytes(b"B" * 20)
    assert cli.main(args) == 0
    names = sorted(r.url.rsplit("/", 1)[-1] for r in spark.read.parquet(cat).collect())
    assert names == ["a.mov", "b.mp4"]

    # unchanged inbox: third drain appends nothing
    assert cli.main(args) == 0
    assert spark.read.parquet(cat).count() == 2


def test_persist_hygiene(tmp_path):
    """Every persist() in a query path must be released (unpersist /
    localCheckpoint hand-off) or carry an explicit bounded-retention
    marker — VERDICT r15 #5: x_pagerank's leak was fixed while
    x_cross_source_leakage's identical leak shipped with only prose;
    tools/check_persists.py makes the trade machine-checkable. The
    rule is per persist: releasing one frame clears no other."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_persists", os.path.join(root, "tools", "check_persists.py")
    )
    chk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(chk)
    files = list(chk.EXTRA_FILES)
    for d in chk.SCAN:
        files += [
            os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".py")
        ]
    violations = []
    for path in files:
        violations += chk.check_file(path)
    assert not violations, "\n".join(violations)

    two = tmp_path / "two_persists.py"
    two.write_text(
        "def q(a, b):\n"
        "    x = a.persist()\n"
        "    y = b.persist()\n"
        "    out = x.join(y, 'k').collect()\n"
        "    x.unpersist()\n"
        "    return out\n"
    )
    flagged = chk.check_file(str(two))
    assert len(flagged) == 1 and "persist() of y in q()" in flagged[0], flagged


def test_pipeline_tables_read_through_tables_module():
    """cli.py reads the four pipeline tables only through
    ``tables.read`` (a known schema, no inference job, and an unreadable
    table raises): no bare ``spark.read.parquet(args.<table>)`` and no
    catch-all ``_read_or_none`` that takes a broken table for a missing
    one."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(root, "chyme_spark", "cli.py")).read()
    bare = re.findall(
        r"spark\.read\.parquet\(\s*(?:args\.)?(?:catalog|tasks|ledger|quarantine)\w*\s*\)", src
    )
    assert not bare, bare
    assert not re.search(r"def _read_or_none\b", src)

"""The benchmark's output checks must report every injected fault.

Run with ``python -m pytest perfbench/tests -q`` from the repository root.
No Spark session is needed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, queries, run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def faults():
    return checks.injected_faults()


def test_clean_cases_pass(faults):
    assert faults["query_clean"] == []
    assert faults["etl_clean"] == []


def test_perturbed_value_is_reported(faults):
    assert faults["perturbed_value"] == ["value-hash mismatch"]


def test_dropped_row_is_reported(faults):
    assert faults["dropped_row"] == ["rows 2 != 3"]


def test_missing_mirror_file_is_reported(faults):
    assert any(p.startswith("mirror: 1 files missing") for p in faults["missing_mirror_file"])


def test_duplicated_ledger_row_is_reported(faults):
    assert "ledger: 1 tasks recorded more than once" in faults["duplicated_ledger_row"]


def test_selftest_is_clean():
    assert checks.selftest() == []


def _write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, f"part-{len(os.listdir(path)):05d}.parquet"))


def test_duplicated_ledger_row_on_disk(tmp_path):
    """The same fault through the parquet reader the benchmark uses."""
    state, eligible, poison, mirror = checks._good_etl_fixture(str(tmp_path))
    tables = {t: str(tmp_path / t) for t in ("catalog", "tasks", "ledger", "quarantine")}
    _write(tables["catalog"], pa.table({"url": state.catalog_urls}))
    h, u = zip(*state.tasks)
    _write(tables["tasks"], pa.table({"task_hash": list(h), "input_url": list(u)}))
    _write(tables["ledger"], pa.table({"task_hash": state.ledger}))
    qh, qs = zip(*state.quarantine)
    _write(tables["quarantine"], pa.table({"task_hash": list(qh), "failed_stage": list(qs)}))
    assert checks.check_etl_state(checks.load_etl_state(tables), eligible, poison, mirror) == []
    _write(tables["ledger"], pa.table({"task_hash": state.ledger[:1]}))
    problems = checks.check_etl_state(checks.load_etl_state(tables), eligible, poison, mirror)
    assert "ledger: 1 tasks recorded more than once" in problems


def test_idle_run_that_adds_a_task_is_reported():
    before = checks.EtlState(["u"], [("h", "u")], ["h"], [])
    after = checks.EtlState(["u"], [("h", "u"), ("h2", "u")], ["h"], [])
    assert checks.check_idempotent(before, after) == ["idle run created 1 tasks"]


def test_arrow_hash_equals_the_oracle_tool_hash():
    """The column-wise hash must equal tools/check_oracle.py's row-wise one."""
    import datetime as dt
    from decimal import Decimal

    n = [None]
    table = pa.table({
        "i64": pa.array([-3, 0, 2**62, None], pa.int64()),
        "i32": pa.array([7, -1, None, 0], pa.int32()),
        "f64": pa.array([float("nan"), -0.0, 1e-05, None]),
        "f32": pa.array([0.1, 1e22, -2.5, None], pa.float32()),
        "s": pa.array(["a", "ünï", "", None]),
        "b": pa.array([True, False, None, True]),
        "d": pa.array([dt.date(2020, 1, 2)] * 3 + n),
        "ts": pa.array([dt.datetime(2020, 1, 2, 3, 4, 5, 6)] * 3 + n, pa.timestamp("us", tz="UTC")),
        "dec": pa.array([Decimal("1.25"), Decimal("-0.10"), None, Decimal("3")], pa.decimal128(10, 2)),
        "l": pa.array([[1, 2], [], None, [3]]),
        "m": pa.array([[("x", 1)], [], None, [("y", 2), ("a", 3)]], pa.map_(pa.string(), pa.int64())),
    })  # fmt: skip
    assert checks.arrow_hash(table) == checks.table_hash(*checks.arrow_rows(table))
    assert checks.arrow_hash(table.slice(1)) == checks.table_hash(*checks.arrow_rows(table.slice(1)))


def test_rows_only_schema_pin():
    pinned = [["doc_a", "bigint"], ["doc_b", "bigint"]]
    assert checks.compare_schema([("doc_a", "bigint"), ("doc_b", "bigint")], pinned) == []
    assert checks.compare_schema([("doc_a", "bigint"), ("doc_b", "int")], pinned) != []


def test_member_order_is_a_seeded_permutation():
    assert queries.order(7, 0) == queries.order(7, 0)
    assert sorted(queries.order(7, 0)) == sorted(queries.MEMBERS)
    assert queries.order(7, 0) != queries.order(8, 0)
    assert len(set(queries.MEMBERS)) == 10
    assert not set(queries.LEFT_OUT) & set(queries.MEMBERS)


def test_benchmark_json_matches_the_metrics_emitted():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_cpu_seconds_count_a_reaped_child():
    before = run.cpu_seconds(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(10**7))"], check=True)
    assert run.cpu_seconds(os.getpid()) - before >= 0.05


def test_describe_reports_a_tail_only_with_ten_samples_beyond_it():
    assert "p90" not in run.describe([1.0] * 19)
    assert "p90" in run.describe([1.0] * 100)
    assert "p99" in run.describe([1.0] * 1000)


def test_self_times_cover_the_root_span():
    tr = Tracer("t", enabled=True)
    with tr.span("run"):
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("c"):
            pass
    root = tr.spans[0]
    assert sum(tr.self_times().values()) == pytest.approx(root.end - root.start)

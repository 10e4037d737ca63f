"""Output checks for every benchmark run.

Query members are compared with the DuckDB oracle the same way
``tools/check_oracle.py`` compares them: row count, column set and the
order-insensitive canonical value hash (its ``table_hash`` is loaded,
not copied). The ETL pipeline's tables and mirror are compared
with what the generated resource tree implies.

Every check returns a list of problems; an empty list means correct.
``selftest`` injects one fault of each kind and returns the faults the
checks failed to report, so a broken checker fails the run.
"""

from __future__ import annotations

import filecmp
import functools
import hashlib
import importlib.util
import os
import tempfile
from collections import Counter
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _oracle_tool():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    """``tools/check_oracle.py``'s order-insensitive canonical value hash."""
    return _oracle_tool().table_hash(cols, rows)


def expectation(cols: list[str], rows: list[tuple]) -> dict:
    """What a correct result must match: row count, column set, value hash."""
    return {"rows": len(rows), "cols": sorted(cols), "hash": table_hash(cols, rows)}


def compare_result(table, expected: dict) -> list[str]:
    """Problems of one query result (a pyarrow Table) against its expectation.

    ``expected`` holds ``rows`` and either ``cols`` + ``hash`` (oracle
    checked) or ``schema`` (a pinned ``[[name, type], ...]`` list, for a
    rows-only member whose output the oracle cannot express)."""
    problems = []
    if table.num_rows != expected["rows"]:
        problems.append(f"rows {table.num_rows} != {expected['rows']}")
    if "cols" in expected and sorted(table.column_names) != expected["cols"]:
        problems.append(f"cols {sorted(table.column_names)} != {expected['cols']}")
    if not problems and expected.get("hash") and arrow_hash(table) != expected["hash"]:
        problems.append("value-hash mismatch")
    return problems


def compare_schema(dtypes: list[tuple[str, str]], pinned: list[list[str]]) -> list[str]:
    got = [list(t) for t in dtypes]
    return [] if got == pinned else [f"schema {got} != {pinned}"]


def _column_values(column) -> list:
    """Python values of an Arrow column, with maps as dicts like Spark's collect()."""
    import pyarrow as pa

    values = column.to_pylist()
    if pa.types.is_map(column.type):
        values = [None if v is None else dict(v) for v in values]
    return values


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    """(columns, rows) of a pyarrow Table, as Spark's collect() would give them."""
    cols = table.column_names
    return cols, list(zip(*(_column_values(table.column(c)) for c in cols)))


def _column_texts(column) -> list[str]:
    """``canon`` of every value of one column. Integers, strings and floats
    go through Arrow and NumPy, where the text is plainly the same (``str``
    of an int, the string itself, ``repr`` of a float with ``0.0`` for
    either zero); every other type goes value by value."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = column.type
    null = "\\N"
    if pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t):
        text = pc.cast(column, pa.string()) if pa.types.is_integer(t) else column
        return pc.fill_null(text, null).to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_floating(t):
        values = pc.fill_null(column, 0.0).cast(pa.float64()).to_numpy()
        texts = list(map(repr, values.tolist()))
        for i in np.flatnonzero(values == 0.0):
            texts[i] = "0.0"
        for i in np.flatnonzero(column.is_null().to_numpy(zero_copy_only=False)):
            texts[i] = null
        return texts
    canon = _oracle_tool().canon
    return [canon(v) for v in _column_values(column)]


def arrow_hash(table) -> str:
    """``table_hash(*arrow_rows(table))``, computed a column at a time (a
    600k-row, 5-column result hashes in 1.4 s instead of 6.2 s)."""
    texts = [_column_texts(table.column(c)) for c in sorted(table.column_names)]
    lines = sorted("\x1f".join(t) for t in zip(*texts))
    return hashlib.sha256("".join(line + "\x1e" for line in lines).encode()).hexdigest()


# ---------------------------------------------------------------------------
# ETL pipeline state
# ---------------------------------------------------------------------------


@dataclass
class EtlState:
    """The four pipeline tables as plain rows (read with pyarrow, not Spark)."""

    catalog_urls: list[str] = field(default_factory=list)
    tasks: list[tuple[str, str]] = field(default_factory=list)  # (task_hash, input_url)
    ledger: list[str] = field(default_factory=list)  # task_hash
    quarantine: list[tuple[str, str]] = field(default_factory=list)  # (task_hash, failed_stage)


def _read_columns(path: str, columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return []
    table = pq.read_table(path, columns=columns)
    return list(zip(*(table.column(c).to_pylist() for c in columns)))


def load_etl_state(tables: dict[str, str]) -> EtlState:
    return EtlState(
        catalog_urls=[r[0] for r in _read_columns(tables["catalog"], ["url"])],
        tasks=_read_columns(tables["tasks"], ["task_hash", "input_url"]),
        ledger=[r[0] for r in _read_columns(tables["ledger"], ["task_hash"])],
        quarantine=_read_columns(tables["quarantine"], ["task_hash", "failed_stage"]),
    )


def _dupes(items) -> list:
    return sorted(k for k, n in Counter(items).items() if n > 1)


def mirror_path(mirror_root: str, src_path: str) -> str:
    """Where the copy payload's output for ``src_path`` lands: the template
    writes ``<mirror>/<bucket>/<key>/`` and a file:// URL has an empty
    bucket and the absolute path as key."""
    return os.path.join(mirror_root, src_path.lstrip("/"), os.path.basename(src_path))


def check_etl_state(
    state: EtlState, eligible: dict[str, str], poison: set[str], mirror_root: str
) -> list[str]:
    """Problems of the pipeline tables after a phase.

    ``eligible`` maps each URL the filter must admit to its source path;
    ``poison`` is the subset of those URLs the payload rejects."""
    problems = []
    if dup := _dupes(state.catalog_urls):
        problems.append(f"catalog: {len(dup)} duplicated urls, e.g. {dup[0]}")
    if set(state.catalog_urls) != set(eligible):
        missing = set(eligible) - set(state.catalog_urls)
        extra = set(state.catalog_urls) - set(eligible)
        problems.append(f"catalog: {len(missing)} eligible urls missing, {len(extra)} extra")
    task_urls = [u for _, u in state.tasks]
    if dup := _dupes(task_urls):
        problems.append(f"tasks: {len(dup)} resources with more than one task, e.g. {dup[0]}")
    if set(task_urls) != set(eligible):
        problems.append(f"tasks: {len(set(eligible) - set(task_urls))} eligible resources without a task")
    hash_of = {u: h for h, u in state.tasks}
    want_done = {hash_of.get(u) for u in eligible if u not in poison}
    want_quarantined = {hash_of.get(u) for u in poison}
    if dup := _dupes(state.ledger):
        problems.append(f"ledger: {len(dup)} tasks recorded more than once")
    if set(state.ledger) != want_done:
        problems.append(
            f"ledger: holds {len(set(state.ledger))} tasks, want exactly the {len(want_done)} non-poison tasks"
        )
    q_hashes = [h for h, _ in state.quarantine]
    if dup := _dupes(q_hashes):
        problems.append(f"quarantine: {len(dup)} tasks recorded more than once")
    if set(q_hashes) != want_quarantined:
        problems.append(
            f"quarantine: holds {len(set(q_hashes))} tasks, want exactly the {len(want_quarantined)} poison tasks"
        )
    if bad := sorted({s for _, s in state.quarantine if s != "execute"}):
        problems.append(f"quarantine: failed_stage {bad}, want 'execute'")
    unequal = [
        path
        for url, path in eligible.items()
        if url not in poison
        and not (
            os.path.isfile(mirror_path(mirror_root, path))
            and filecmp.cmp(path, mirror_path(mirror_root, path), shallow=False)
        )
    ]
    if unequal:
        problems.append(f"mirror: {len(unequal)} files missing or not byte-equal, e.g. {unequal[0]}")
    return problems


def check_idempotent(before: EtlState, after: EtlState) -> list[str]:
    """A run with no arrivals creates no task and leaves ledger and quarantine as they were."""
    problems = []
    if len(after.tasks) != len(before.tasks):
        problems.append(f"idle run created {len(after.tasks) - len(before.tasks)} tasks")
    if sorted(after.ledger) != sorted(before.ledger):
        problems.append("idle run changed the ledger")
    if sorted(after.quarantine) != sorted(before.quarantine):
        problems.append("idle run changed the quarantine")
    return problems


# ---------------------------------------------------------------------------
# fault injection
# ---------------------------------------------------------------------------


def _good_etl_fixture(tmp: str) -> tuple[EtlState, dict[str, str], set[str], str]:
    src, mirror = os.path.join(tmp, "src"), os.path.join(tmp, "mirror")
    eligible = {}
    for name, body in (("a.mov", b"A" * 10), ("b/c.mp4", b"C" * 20), ("p.MOV", b"POISON")):
        path = os.path.join(src, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(body)
        eligible[f"file://{path}"] = path
    poison = {u for u in eligible if u.endswith("p.MOV")}
    for url, path in eligible.items():
        if url not in poison:
            out = mirror_path(mirror, path)
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(path, "rb") as s, open(out, "wb") as d:
                d.write(s.read())
    tasks = [(f"h{i}", u) for i, u in enumerate(sorted(eligible))]
    hash_of = {u: h for h, u in tasks}
    state = EtlState(
        catalog_urls=sorted(eligible),
        tasks=tasks,
        ledger=[hash_of[u] for u in sorted(eligible) if u not in poison],
        quarantine=[(hash_of[u], "execute") for u in sorted(poison)],
    )
    return state, eligible, poison, mirror


def injected_faults() -> dict[str, list[str]]:
    """Problems reported for a clean case and for each injected fault."""
    import pyarrow as pa

    good = pa.table({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", None, "c"]})
    want = expectation(*arrow_rows(good))
    out = {
        "query_clean": compare_result(good, want),
        "perturbed_value": compare_result(good.set_column(1, "v", pa.array([0.5, 1.2500001, None])), want),
        "dropped_row": compare_result(good.slice(0, 2), want),
    }
    with tempfile.TemporaryDirectory(prefix="perfbench_selftest_") as tmp:
        state, eligible, poison, mirror = _good_etl_fixture(tmp)
        out["etl_clean"] = check_etl_state(state, eligible, poison, mirror)
        dup = EtlState(state.catalog_urls, state.tasks, state.ledger + state.ledger[:1], state.quarantine)
        out["duplicated_ledger_row"] = check_etl_state(dup, eligible, poison, mirror)
        victim = next(p for u, p in eligible.items() if u not in poison)
        os.remove(mirror_path(mirror, victim))
        out["missing_mirror_file"] = check_etl_state(state, eligible, poison, mirror)
    return out


def selftest() -> list[str]:
    """Names of checks that misjudged an injected fault or a clean case."""
    return [
        name
        for name, problems in injected_faults().items()
        if bool(problems) == name.endswith("clean")
    ]

"""Driver-window regression: the grading driver checks exactly the FIRST
50 entries of ``__spark_entry__.queries()`` per round, so the window is
computed, never hand-kept: ``registry.window_order`` over the oracle
ledger and the CORRECTNESS history (rule in the registry docstring).

Round-1 cost: 22 core operators silently missed a round of verification
because x-ops registered ahead of them. The synthetic-ledger tests pin
the rule; the real-ledger tests pin that the committed window obeys it.
"""

from __future__ import annotations

import json
import re

from chyme_spark.registry import (
    LEDGER,
    WINDOW,
    Query,
    driver_order,
    last_green_rounds,
    load_all,
    source_hash,
    window_order,
)


def _outside_window(names: list[str], must: set[str]) -> list[str]:
    """The ``must`` names the driver would not check this round."""
    return sorted(must - set(names[:WINDOW]))


def _window() -> list[str]:
    return driver_order()[0][:WINDOW]


def test_front_window_covers_all_unchecked_and_red_rows():
    """Every registered query that lacks a green CORRECTNESS row across
    recorded rounds must sit inside the checked window."""
    names = driver_order()[0]
    unproven = set(names) - set(last_green_rounds())
    missing = _outside_window(names, unproven)
    assert not missing, f"unproven queries outside the checked window: {missing}"


def test_changed_or_new_queries_enter_window():
    """Window-coverage guard (VERDICT r6 #8): any query whose fn/oracle
    source hash differs from tools/oracle_ledger.json — or that has no
    ledger row at all (new op, or marked CHANGED) — must sit inside the
    first-50 checked window this round.  This makes the round-6 class of
    risk (an implementation rewritten after its last driver-green, then
    slot-yielded out of the window) structurally impossible."""
    ledger = json.load(open(LEDGER))
    reg = load_all()
    window = set(_window())
    offenders = []
    for name, q in reg.items():
        rec = ledger.get(name)
        if rec is None or rec["hash"] != source_hash(q):
            if name not in window:
                offenders.append(name)
    assert not offenders, (
        f"queries changed since last driver-green (or new/unledgered) sit outside "
        f"the checked window — more forced queries than the window holds; "
        f"split the change: {sorted(offenders)}"
    )


def test_ledger_covers_registry():
    """Every ledger row must point at a registered query (no orphans), and
    sentinel rows must be inside the window (they are by definition
    changed-since-green)."""
    ledger = json.load(open(LEDGER))
    reg = load_all()
    orphans = sorted(set(ledger) - set(reg))
    assert not orphans, f"ledger rows for unregistered queries: {orphans}"
    window = set(_window())
    stray = [n for n, r in ledger.items() if r["hash"] == "CHANGED-SINCE-LAST-GREEN" and n not in window]
    assert not stray, f"sentinel (changed) queries outside the window: {stray}"


def test_backfill_takes_the_oldest_greens():
    """The driver's own view: no unchanged green from the newest
    CORRECTNESS round sits in the first 50 while an older-stamped
    oracle-checked query waits outside."""
    import __spark_entry__ as e

    names = list(e.queries())
    ledger = json.load(open(LEDGER))
    reg = load_all()
    greens = last_green_rounds()
    newest = max(greens.values())

    def unchanged(n: str) -> bool:
        return n in greens and n in ledger and ledger[n]["hash"] == source_hash(reg[n])

    fresh_in = [n for n in names[:WINDOW] if unchanged(n) and ledger[n]["round"] == newest]
    stale_out = [
        n for n in names[WINDOW:]
        if unchanged(n) and reg[n].oracle is not None and ledger[n]["round"] < newest
    ]
    assert not (fresh_in and stale_out), (
        f"round-{newest} greens {fresh_in[:5]}... hold window slots while older "
        f"greens wait outside: {stale_out[:5]}..."
    )


def test_all_d_ids_register():
    names = list(load_all())
    d_ids = [n for n in names if re.match(r"^d\d\d_", n)]
    assert len(d_ids) == 50


def _fn(spark, sf):
    return spark.range(1)


def _ledgered(names: list[str], rnd: int, oracle: str | None = "SELECT 1"):
    """Registry, ledger and greens for ``names``, all unchanged greens
    stamped ``rnd``."""
    reg = {n: Query(name=n, fn=_fn, oracle=oracle) for n in names}
    ledger = {n: {"hash": source_hash(q), "round": rnd} for n, q in reg.items()}
    return reg, ledger, {n: rnd for n in names}


def test_window_forces_new_changed_sentinel_and_red():
    reg, ledger, greens = _ledgered([f"x_old{i:02d}" for i in range(60)], 5)
    reg["x_new"] = Query(name="x_new", fn=_fn, oracle="SELECT 1")
    greens["x_new"] = 9  # green somewhere, but no ledger row
    ledger["x_old30"]["hash"] = "0" * 64  # source changed since its stamp
    ledger["x_old40"]["hash"] = "CHANGED-SINCE-LAST-GREEN"
    del greens["x_old50"]  # a later red row demoted it
    names, n_forced = window_order(reg, ledger, greens)
    assert n_forced == 4
    assert names[:4] == ["x_new", "x_old30", "x_old40", "x_old50"]
    assert sorted(names) == sorted(reg)


def test_window_backfills_oldest_oracle_greens_first():
    reg, ledger, greens = _ledgered([f"x_r{i:02d}" for i in range(60)], 3)
    for i in range(60):
        ledger[f"x_r{i:02d}"]["round"] = 10 - i % 5  # x_r04 is oldest (6)
    rows_only, rl, rg = _ledgered(["d16_rows_only", "x_ann_rows_only"], 1, oracle=None)
    reg.update(rows_only)
    ledger.update(rl)
    greens.update(rg)
    names, n_forced = window_order(reg, ledger, greens)
    assert n_forced == 0
    rounds = [ledger[n]["round"] for n in names[:WINDOW]]
    assert rounds == sorted(rounds)  # oldest stamp first
    assert names[:2] == ["x_r04", "x_r09"]  # then by name
    # rows-only never backfill, even when stamped oldest
    assert not {"d16_rows_only", "x_ann_rows_only"} & set(names[:WINDOW])
    # the rest by name: d-ids, then x-ops
    assert names[WINDOW:] == sorted(names[WINDOW:])
    assert names[WINDOW] == "d16_rows_only"


def test_window_overflow_still_orders_and_the_guard_reports_it():
    reg = {f"x_new{i:02d}": Query(name=f"x_new{i:02d}", fn=_fn, oracle="SELECT 1") for i in range(53)}
    names, n_forced = window_order(reg, {}, {})
    assert n_forced == 53 and sorted(names) == sorted(reg)
    assert _outside_window(names, set(reg)) == ["x_new50", "x_new51", "x_new52"]


def test_update_ledger_green_history_semantics(tmp_path):
    """last_green_rounds() on a synthetic CORRECTNESS history: a later
    RED row demotes an earlier green (the query must re-prove), a
    rows-only pass (err == no_oracle, rows > 0) counts as green, and
    the recorded round is the LATEST green — the value the refresher
    compares against the stamped round to decide whether a new green
    arrived (re-stamp) or not (keep prior hash/sentinel)."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q1": {"hash_match": True, "spark_rows": 5},
        "q2": {"hash_match": True, "spark_rows": 5},
        "q3": {"hash_match": None, "spark_rows": 7, "err": "no_oracle"},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "q1": {"hash_match": True, "spark_rows": 5},
        "q2": {"hash_match": False, "spark_rows": 5, "err": "hash"},
    }))
    assert last_green_rounds(str(tmp_path)) == {"q1": 2, "q3": 1}

    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({
        "q2": {"hash_match": True, "spark_rows": 5},
    }))
    assert last_green_rounds(str(tmp_path)) == {"q1": 2, "q2": 3, "q3": 1}

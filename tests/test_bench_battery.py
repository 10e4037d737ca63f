"""Bench-battery membership guards (r9 review finding #3), the
rotation rule, the final line's contract, the probe runner's fault
isolation, and the census's same-scale yardstick.

Every probe membership list filters with `in registry`, which silently
drops a renamed/deleted query — fail HERE instead.
"""

from __future__ import annotations

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_rotation_cohorts_partition_the_registry_outside_headline():
    """The K cohorts of ``bench.rotation`` cover every registered name
    outside HEADLINE exactly once, at most ROTATION_SLOTS per round, so
    each is timed once every K rounds; round 17's cohort is computed,
    not the round-15 list that was pasted in by hand."""
    from chyme_spark.registry import load_all

    registry = load_all()
    cands = sorted(set(registry) - set(bench.HEADLINE))
    k = -(-len(cands) // bench.ROTATION_SLOTS)
    cohorts = [bench.rotation(registry, r) for r in range(k)]
    assert sorted(n for c in cohorts for n in c) == cands
    assert all(0 < len(c) <= bench.ROTATION_SLOTS for c in cohorts)
    assert not set().union(*cohorts) & set(bench.HEADLINE)
    assert bench.rotation(registry, 17) == bench.rotation(registry, 17 + k)
    assert bench.rotation(registry, 17) == cohorts[17 % k]
    pasted_r15 = {
        "x_cluster_label_retract", "x_winnowing_fingerprint",
        "x_cross_source_leakage", "x_dataset_card", "x_countmin_sketch",
        "x_zorder_layout", "x_market_basket", "x_ngram_novelty_curve",
        "x_tpch_q16_supplier_count", "x_ann_lsh_topk", "x_interpolate",
        "x_ccnet_buckets", "x_tpch_q2_min_cost_supplier",
        "x_partial_agg_merge", "x_cube",
    }
    assert set(bench.rotation(registry, 17)) != pasted_r15


def test_rotation_matches_current_ledger_entry():
    """The round the rotation block benches is the one after the newest
    green round of the oracle ledger (the CORRECTNESS_r{N}.json files),
    and its cohort is that round's slice of the computed partition."""
    from chyme_spark.registry import last_green_rounds, load_all

    registry = load_all()
    current = max(last_green_rounds().values())
    round_ = 1 + current
    cands = sorted(set(registry) - set(bench.HEADLINE))
    k = -(-len(cands) // bench.ROTATION_SLOTS)
    members = bench.rotation(registry, round_)
    assert members == [bench.rotation(registry, r) for r in range(k)][round_ % k]
    assert members == bench.rotation(dict(reversed(list(registry.items()))), round_), (
        "the cohort must not depend on the registry's load order"
    )


def test_every_battery_member_is_a_registered_query():
    from chyme_spark.registry import load_all

    registry = load_all()
    for list_name in ("HEADLINE", "SF1_HEAVY", "SF2_SKEW", "CORE_SCALE"):
        members = getattr(bench, list_name)
        missing = [n for n in members if n not in registry]
        assert not missing, (
            f"bench.{list_name} names unregistered queries {missing} — "
            "the `in registry` filter would silently drop them from the "
            "battery while the ledger still claims they were benched"
        )


def test_core_scale_members_have_sf1_denominators():
    # the core-scaling block divides low-core sf1 medians by the sf1
    # probe's high-core medians — every member must be in SF1_HEAVY or
    # the ratio silently drops out
    missing = [n for n in bench.CORE_SCALE if n not in bench.SF1_HEAVY]
    assert not missing, f"CORE_SCALE members without sf1 denominators: {missing}"


def test_rotation_does_not_overlap_the_fixed_battery():
    from chyme_spark.registry import last_green_rounds, load_all

    round_ = 1 + max(last_green_rounds().values())
    overlap = set(bench.rotation(load_all(), round_)) & set(bench.HEADLINE)
    assert not overlap, (
        f"rotation members already in HEADLINE: {sorted(overlap)} — "
        "a rotation slot spent on an always-benched query is wasted"
    )


def test_final_line_is_bounded_pure_json():
    """The driver parses bench.py's FINAL stdout line as JSON (r10
    VERDICT #2: parsed:null since r5 because the old last line carried
    a text prefix). Pin the contract: prefix-free, parseable, bounded
    well under any plausible captured-tail window, and carrying the
    per-query medians for every headline member."""
    steady = {n: 1.234 for n in bench.HEADLINE}
    summary = {
        "steady_total": 12.3, "cpu_calibration_sec": 0.15,
        "steady_total_calibrated": 82.0, "n_queries": len(bench.HEADLINE),
        "value": 25.0, "unit": "sec", "sf": 0.1,
        "sf1_ratio_max": 4.7, "sf1_flagged": [], "sf2_ratio_max": 8.1,
        "sf2_flagged": [], "rotation_n": 15,
        "rotation_total": 25.0,
    }
    line = bench.final_line(summary, steady)
    parsed = json.loads(line)  # prefix-free pure JSON
    assert not line.startswith("BENCH_SUMMARY")
    assert line.startswith('{"metric"')  # tail-scraper anchor, FIRST key
    assert parsed["metric"] == "headline_queries_total_wall_clock"
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    # flagged-cliff NAME lists are reduced to counts (a bad round could
    # add ~500B of query names and blow the tail)
    assert parsed["sf1_flagged_n"] == 0 and "sf1_flagged" not in parsed
    # the driver's captured tail is 2000 BYTES (BENCH_r10.json "tail");
    # the final line must fit ENTIRELY inside it or its head is cut and
    # the parse dies. Real sf0.1 runs measure ~1390B; leave headroom.
    assert len(line) < 1900, f"final line {len(line)}B risks 2000B-tail truncation"
    # oversize fallback: a pathological summary drops the medians, never
    # the headline fields, and stays parseable under the budget
    huge = dict(summary)
    huge["sf2_flagged"] = [f"x_some_long_query_name_{i}" for i in range(40)]
    big_line = bench.final_line(huge, {f"q{i}_{'x'*40}": 1.0 for i in range(60)})
    big = json.loads(big_line)
    assert len(big_line) < 1900
    assert "queries_dropped" in big and big["steady_total"] == 12.3


def test_probe_block_isolates_failures_and_rewarms_after_a_revival():
    """The one probe runner, on stub timings and a stub context (no
    Spark): a member that throws is dropped with its error recorded;
    one that also stops the context revives it once, and the survivors
    are re-warmed on the fresh context before the next timed pass, so
    no cold run lands in a median; the block is flagged revived."""
    calls: list[str] = []
    state = {"dead": False, "revivals": 0, "pass": 0}
    seconds = {"a": [9.0, 1.0, 2.0, 3.0], "b": [9.0, 4.0]}

    def time_one(name):
        calls.append(name)
        if name == "bad":
            raise ValueError("boom")
        if name == "killer":
            if state["pass"] == 0:  # survives its warm run
                state["pass"] = 1
                return 0.5
            state["dead"] = True
            raise RuntimeError("SparkContext was shut down")
        assert not state["dead"], "ran a member on a dead context"
        # a re-warm is untimed: its seconds never reach the median
        return seconds[name].pop(0) if seconds[name] else 5.0

    def revive_if_dead():
        dead = state["dead"]
        if dead:
            state["dead"] = False
            state["revivals"] += 1
            calls.append("<revive>")
        return dead

    block = bench.probe_block(["a", "bad", "killer", "b"], time_one, revive_if_dead, passes=3)

    assert state["revivals"] == 1
    assert block["revived"] is True
    assert set(block["errors"]) == {"bad", "killer"}
    assert block["errors"]["bad"] == "ValueError: boom"
    assert block["errors"]["killer"].startswith("RuntimeError: ")
    # warm a, bad, killer, b; pass 1: a (timed) then killer dies ->
    # revive -> re-warm a and b -> b (timed) -> passes 2 and 3
    assert calls == [
        "a", "bad", "killer", "b",
        "a", "killer", "<revive>", "a", "b", "b",
        "a", "b",
        "a", "b",
    ]
    # a: warm 9.0, timed 1.0, re-warm 2.0 (untimed), timed 3.0, 5.0;
    # b: warm 9.0, re-warm 4.0 (untimed), timed 5.0 x3
    assert block["queries_median"] == {"a": 3.0, "b": 5.0}


def test_probe_block_without_a_death_is_not_flagged():
    block = bench.probe_block(["a"], lambda n: 1.0, lambda: False, passes=2)
    assert block == {"queries_median": {"a": 1.0}}


def test_census_adjudicates_only_against_the_same_scale(tmp_path):
    """The mover adjudication's yardstick is the latest earlier census
    taken at the same ``--sf``: an sf0.001 sweep is never judged
    against sf0.1 medians, and with no same-scale census there is no
    adjudication."""
    spec = importlib.util.spec_from_file_location(
        "bench_census", os.path.join(ROOT, "tools", "bench_census.py")
    )
    census = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(census)
    for n, sf in [(12, "sf0.1"), (13, "sf0.001"), (14, "sf0.1")]:
        (tmp_path / f"bench_census_r{n}.json").write_text(
            json.dumps({"sf_dir": sf, "queries_median": {"q": 1.0}})
        )
    prev = census.previous_census
    assert prev(str(tmp_path), "sf0.1") == str(tmp_path / "bench_census_r14.json")
    assert prev(str(tmp_path), "sf0.001") == str(tmp_path / "bench_census_r13.json")
    assert prev(str(tmp_path), "sf0.1", before_round=14) == str(tmp_path / "bench_census_r12.json")
    assert prev(str(tmp_path), "sf0.001", before_round=13) is None
    assert prev(str(tmp_path), "sf1") is None


def test_all_ledger_rotation_rounds_name_registered_queries():
    """Every round the oracle ledger has reached, and the one it benches
    next, rotates only registered queries outside HEADLINE."""
    from chyme_spark.registry import last_green_rounds, load_all

    registry = load_all()
    for rnd in range(2 + max(last_green_rounds().values())):
        members = bench.rotation(registry, rnd)
        missing = [n for n in members if n not in registry]
        assert members and not missing, (
            f"round {rnd} rotation names unregistered queries {missing}"
        )
        assert not set(members) & set(bench.HEADLINE)

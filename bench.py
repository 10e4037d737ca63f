"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints the full JSON, a ``BENCH_SUMMARY`` line and, last, a compact
JSON line (``final_line``):
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Every timing goes through one fault-isolated probe runner (``Runner``,
``probe_block``), which tools/bench_census.py, tools/probe_hotkey.py and
tools/probe_queries.py import.

``value`` is the total wall-clock over the headline set.  Each query is
executed to completion via the `noop` sink (``Runner.time``), which evaluates
EVERY output column on every row but discards the bytes — unlike
``count()``, which lets Catalyst prune all projections (a
projection-only query timed with count() measures a scan, not the
operators; round-2 verdict finding 3).  Expect a one-time level shift
up vs the r1/r2 count()-based numbers on scalar-tier queries.

Config note: AQE stays ON here even though it costs ~2.3s over this set
at sf0.1 (measured A/B 2026-08: 12.8s off vs 15.1s on) — runtime
partition coalescing and skew-join splitting are exactly what keeps
these plans healthy at the 100 TB design point, and benchmarking a
config we would never deploy would be gaming the number.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

# Headline set: the shuffle/join/window/LLM-heavy queries that dominate
# cost at scale (scans and per-row projections are bandwidth-bound and
# uninteresting to time at sf0.1).
HEADLINE = [
    "d14_hash_agg_q1",
    "d12_star_join",
    "d08_broadcast_join",
    "d13_theta_join",
    "d06_keyed_dedup",
    "d21_topk_per_group",
    "d24_running_sum",
    "d27_string_fns",
    "d36_pivot",
    "d37_sessionization",
    "d42_exact_dedup",
    "d43_minhash_lsh",
    "d44_cosine_topk",
    "x_cosine_topk_np",
    "d45_token_counts",
    "d50_pipeline_flagship",
    # round-3 additions (new shuffle/join-heavy surface; earlier rounds'
    # totals compare on the shared prefix)
    "x_duplicate_ngram_fraction",
    "x_bm25_score",
    "x_tpch_q5_local_supplier",
    "x_gopher_rules",
    # round-4: the forced-SMJ fact-fact query — the only headline join
    # that does NOT broadcast, so the sort-merge (+ spill) path the
    # engine runs at 100 TB is finally on the scoreboard (VERDICT r3)
    "x_tpch_q18_big_orders",
    # round-5: semi-join, bilateral-pair, returns-topk, and
    # outer-join-double-agg join shapes
    "x_tpch_q4_order_priority",
    "x_tpch_q7_volume_shipping",
    "x_tpch_q10_returned_items",
    "x_tpch_q13_cust_distribution",
    # the correlated per-key aggregate (fact joined back to its own
    # rollup on the same key — exchange-reuse showcase)
    "x_tpch_q17_small_qty_parts",
    # round-6: the corpus-rewrite dedup (two shuffles: seg-text min +
    # doc_id rebuild) and the bigram-LM scorer (two corpus shuffles +
    # scalar broadcast) — the heaviest new LLM-pipeline surface
    "x_segment_dedup_scrub",
    "x_lm_surprisal_score",
    # round-6 continuation: run-collapse windows, exact windowed order
    # statistic, the two-level prefix-sum planner, and the full-outer
    # SMJ — four distinct physical shapes not yet on the scoreboard
    "x_scd2_intervals",
    "x_rolling_median",
    "x_compaction_plan",
    "x_full_outer_join",
    # round-6 continuation II: the explode-heavy DSIR token pipeline
    # (fixed-size weight broadcast) and the salted two-level prefix-sum
    # exact stratified split — the two heaviest new corpus shapes
    "x_dsir_resample",
    "x_stratified_split",
    # round-6 continuation III: the boilerplate scrub joins the main
    # scoreboard (it was sf1-probed without an sf0.1 baseline — null
    # ratio in BENCH r6 preflight), plus the two newest fact-heavy
    # shapes: the ExactSubstr span scrub (gram shuffle + dup semi +
    # positional window) and the Q9 snowflake (widest dim fan-in)
    "x_boilerplate_scrub",
    "x_dup_span_scrub",
    "x_tpch_q9_product_profit",
    # round-7: the new fact-heavy corpus shapes — per-doc unigram
    # entropy (two keyed shuffles), subcorpus drift (one token shuffle
    # + scalar broadcast + TakeOrdered), and the composed filter
    # pipeline flagship (all signals one token pass + dedup shuffle)
    "x_entropy_score",
    "x_token_drift",
    "x_corpus_filter_pipeline",
]

# 10x scale-cliff probe membership (VERDICT r5 item 6) — the heaviest
# shuffle/explode ops, probed once per bench run at a deterministic 10x
# scale-up of sf0.1. Module-scope so tests can guard that every member
# is a registered query (a rename would otherwise be silently dropped
# by the `in registry` filter).
SF1_HEAVY = [
    "d06_keyed_dedup", "d12_star_join", "x_duplicate_ngram_fraction",
    "x_tpch_q18_big_orders", "d50_pipeline_flagship",
    "x_segment_dedup_scrub", "d43_minhash_lsh",
    "x_boilerplate_scrub",
    "x_dsir_resample", "x_stratified_split",
    "x_dup_span_scrub",
    "x_entropy_score",
    "x_token_drift",
    "x_corpus_filter_pipeline",
    # r10 (VERDICT r9 #2): the FastSS record-linkage rewrite's whole
    # point is its scale curve — probe it at 10x and 20x.
    "x_record_linkage",
    # r13 (VERDICT r12 #1): the dedup-first PPJoin rewrite made the
    # probe meaningful — scaleup's per-copy copyseq token keeps
    # replica sets distinct (1-2 token symdiff), so the probe measures
    # candidate generation + verify, not mandatory replica output.
    # Hand-measured while landing the rewrite: 10x warm 12.6 s (ratio
    # 2.0), 20x warm 23.7 s (ratio 3.7) — sublinear both ways.
    "x_ppjoin_setsim",
]

# 20x skew probe membership (VERDICT r7 #7, grown r9 per VERDICT r8 #4):
# the candidate-generation ops most sensitive to key-frequency skew,
# whose TRUE output stays corpus-linear under replication (x_ppjoin,
# excluded through r12 while its replica output was quadratic, joined
# in r13: dedup-first collapses identical sets, so replication grows
# groups, not candidate pairs).
#
# One-off 50x spot check (refreshed r10, manual, not wired into the
# per-round run to keep driver wall-clock bounded): at factor=50
# (~5 GB scan-side, gen=2 data with per-replica names) —
# d06_keyed_dedup 4.7s (~3.1x time at 50x data), d43_minhash_lsh
# 16.1s (~19x), x_dup_span_scrub 4.4s (~2.9x), x_semdedup 6.1s
# (~2.7x with the adaptive k), x_record_linkage 124s end-to-end
# (the r10 probe that mattered: at 50x the un-hinted plan BROADCAST
# the exploded variant side — Catalyst's size estimate doesn't see a
# 172x explode fan-out — and blew spark.driver.maxResultSize; the op
# now pins that join to sort-merge, which also measured 2.8x faster
# at sf0.1). The two new r10 contamination ops were spot-checked at
# 50x as well: x_winnowing_fingerprint 5.3s -> 43.4s (~8x time on 50x
# data; and the 50x run is what exposed the CollapseProject O(n^2)
# digest re-evaluation the op now guards against with a lambda-bound
# hash array) and x_eval_contamination 0.48s -> 0.9s (~2x on 50x —
# map-only, the exchange carries partitions x |eval| rows regardless
# of corpus size). The cost curves keep bending DOWN as fixed
# per-query overhead amortizes, which is the shape a 1000-executor
# run needs.
#
# r11 duplicate-flood spot check, x_incremental_ann (the adversarial
# batch the verify kernel's in-task min-reduction exists for): 40k
# vectors ALL near-identical (1e-6 jitter, dim 64), 20k history + 20k
# batch — every batch vector correctly rejected, 26.6s end-to-end incl.
# KMeans ledger build. Every candidate verifies at cosine ~1.0 there,
# so the pre-hardening kernel would have shuffled ~10M matching pairs
# (20k probes x ~500 colliding-cell residents) to feed a 20k-row
# groupBy; the min-per-probe kernel emits <= |probes| rows (~80k) —
# ~500x less verify-shuffle on this measured case, and the gap grows
# unboundedly as a flood concentrates into fewer cells.
#
# r12 50x spot check (post resident-chunking + compactor review fixes):
# x_incremental_ann warm 10.3s at 50x (r11 measured 15.2s — the
# chunked verify kernel and quantize persist compound at scale), cold
# 70.9s (KMeans ledger build dominated). x_ivf_compaction at 50x:
# cold 22.6s (capped-sample retrain + ONE clustered by-cell shuffle of
# the ~250k-vector corpus), warm 2.4s vs 0.56s at sf0.1 — ~4.4x time
# on 50x data, strongly sublinear, exactly the curve a day-end
# maintenance pass needs.
#
# r11 50x spot check, x_incremental_ann: warm (ledger cached) 2.3s at
# sf0.1 -> 15.2s at 50x (~6.6x time on 50x data); cold incl. KMeans
# codebook training + ledger write 16.5s -> 57.8s (~3.5x). The 50x
# check exposed BOTH design fixes the op now carries: a fixed k=16 +
# fixed 250-vector history made the in-batch candidate join
# O(batch^2/16) (~2.5e9 pairs; now adaptive k + proportional split),
# and the HOF-expression quantize/verify measured 53s/100s at 50x vs
# ~1s/14s for the mapInPandas dgemm + cogrouped per-cell gemm that
# replaced them (x_cosine_topk_np's Arrow physical strategy). Output
# identical at all measured SFs (sf0.1: 65/96 recall, 0 spurious,
# both forms). Post-review persist of the 3x-consumed quantize subplan
# (the probed-cell collect + cogroup probe side + in-batch residents):
# warm sf0.1 re-measured 2.3s -> ~1.1s.
SF2_SKEW = [
    "d43_minhash_lsh", "x_duplicate_ngram_fraction",
    "x_dup_span_scrub", "x_stratified_split", "x_dsir_resample",
    "d06_keyed_dedup",
    # r10 (VERDICT r9 #5): the heavy pair-join ops with the steepest
    # theoretical scale curves. x_record_linkage became probe-safe when
    # scaleup started regenerating customer names per replica (output
    # now grows with near-dup density, not the replica count);
    # x_semdedup became probe-safe with the adaptive k (in-cluster pair
    # work tracks ~n, and exact-replica embeddings concentrate into the
    # same clusters without changing the n/k size bound);
    # x_cross_source_leakage was always safe — its (source, gram)
    # relation is distinct-collapsed, so replication only grows the
    # pre-distinct explode linearly and the output is |sources|^2.
    # x_image_phash_neardup stays EXCLUDED (the reason that kept
    # ppjoin out through r12): the replicas' payload prefixes are
    # byte-identical (the copyseq marker lands beyond the 64-byte
    # raster), so every replica pair verifies
    # at Hamming 0 and the TRUE output is quadratic in the factor — the
    # probe would measure mandatory replica blowup, not the operator.
    # Its scale story is the banded-join plan pin + sf0.1 timing.
    "x_record_linkage", "x_semdedup", "x_cross_source_leakage",
    # r10: the winnowed contamination index (TRUE output is |docs| rows,
    # linear under replication; per-copy text suffixes keep whole-doc
    # fps distinct while shared runs still collide — the heavy case)
    "x_winnowing_fingerprint",
    # r11 (VERDICT r10 #4): the incremental embedding gate — TRUE output
    # is always exactly |batch| disposition rows (linear), replicated
    # vectors concentrate into the same IVF cells (the skew-heavy case
    # for the cell equi-join), and the probe proves the ledger
    # build+probe pipeline holds as cell occupancy grows 20x.
    "x_incremental_ann",
    # r12 (VERDICT r11 #2): the compactor — TRUE output is the k2-row
    # occupancy report (bounded by the adaptive clamp), and the probe
    # proves the gate-run + capped-sample retrain + one-shuffle
    # re-layout pipeline holds as the corpus grows 20x with replicated
    # (cell-concentrating) vectors.
    "x_ivf_compaction",
    # r13 (VERDICT r12 #1): see the SF1 entry — dedup-first made the
    # replica regime the HEAVY case for candidate generation (every
    # copy's sets land 1-2 tokens from the original's), which is
    # exactly what a skew probe should measure.
    "x_ppjoin_setsim",
]

# Core-scaling pair membership (VERDICT r15 #2): the five heaviest
# SF1_HEAVY members by BENCH_r15 steady medians, re-run at sf1 on a
# quarter-core session so the low/high ratio measures parallelism on
# multi-second queries instead of fixed overhead. Module-scope so
# tests can guard every member is registered AND in SF1_HEAVY (the
# high-core denominator comes from the sf1 probe block).
CORE_SCALE = [
    "d06_keyed_dedup", "d12_star_join", "x_duplicate_ngram_fraction",
    "x_dup_span_scrub", "x_segment_dedup_scrub",
]

# Bench-battery rotation: the registry holds ~5x more queries than
# HEADLINE, so a slow regression in the rest would be invisible. Each
# round times one cohort of the rest; over ``ceil(len(rest) / 15)``
# rounds every registered query gets a driver-run timing.
ROTATION_SLOTS = 15


def rotation(registry, round_: int) -> list[str]:
    """Round ``round_``'s rotation cohort: the registered names outside
    HEADLINE, ordered by sha1 of the name (so families such as
    ``x_stream_*`` spread across cohorts), cut into slices of
    ROTATION_SLOTS; the round takes slice ``round_ % K`` of the K."""
    fixed = set(HEADLINE)
    cands = sorted(
        (n for n in registry if n not in fixed),
        key=lambda n: hashlib.sha1(n.encode()).hexdigest(),
    )
    k = -(-len(cands) // ROTATION_SLOTS)
    lo = (round_ % k) * ROTATION_SLOTS
    return cands[lo:lo + ROTATION_SLOTS]


def _cpu_calibration() -> float:
    """Fixed single-thread workload, timed: a host-speed constant.

    Round-over-round bench comparisons run on whatever host the driver
    has that day; round 6 measured a uniform ~1.25x drift on UNTOUCHED
    narrow-map queries (d27/d24) across runs hours apart — pure host
    speed, not plans. Dividing per-query times by this constant
    separates real regressions from the weather. MEDIAN of three
    passes: round 7 observed single measurements wobbling 0.13-0.18 on
    the same host minutes apart (scheduler noise), which would smear
    the very normalization this exists for."""

    def one() -> float:
        t0 = time.time()
        acc = 0
        for i in range(2_000_000):
            acc = (acc + i * i) % 1_000_000_007
        assert acc >= 0
        return time.time() - t0

    return round(sorted(one() for _ in range(3))[1], 4)


# --- the probe runner ------------------------------------------------------
# One runner for every timing site: bench.py's blocks and the tools
# (bench_census, probe_hotkey, probe_queries) that import it.


def median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:300]


def probe_block(members: list[str], time_one, revive_if_dead, passes: int = 3) -> dict:
    """Warm + ``passes`` timed passes per member, fault-isolated.

    ``time_one(name)`` returns one member's seconds; ``revive_if_dead()``
    rebuilds a stopped context and says whether it had to. A member that
    throws (or kills the context) is dropped and its error recorded;
    the survivors' medians are still reported, as
    ``{"queries_median": ..., "errors": ..., "revived": True}`` (the
    last two only when they happened).

    A mid-block context death loses the SURVIVORS' warm state too (JIT,
    parquet footers live in the replaced JVM), so timed passes taken on
    the fresh session would run cold and silently inflate innocent
    medians — possibly tripping the scale-cliff flag. After any revival
    the still-ok members get an untimed re-warm run, timings already
    taken in the interrupted pass are kept (they were warm when taken),
    and the block is flagged ``revived``: its numbers ran partly on a
    fresh JVM."""
    errors: dict[str, str] = {}
    revived = False

    def fail(name: str, e: Exception) -> bool:
        nonlocal revived
        errors[name] = _error(e)
        dead = revive_if_dead()
        revived |= dead
        return dead

    def rewarm(ok: list[str]) -> None:
        # A context death DURING the rewarm would strand the members
        # re-run before it cold again: restart until one full pass
        # completes with no revival. Bounded — every restart removed at
        # least one failing member.
        while True:
            died = False
            for m in list(ok):
                try:
                    time_one(m)
                except Exception as e:  # noqa: BLE001
                    ok.remove(m)
                    died |= fail(m, e)
            if not died:
                return

    ok: list[str] = []
    died = False
    for name in members:  # warm pass (footers, codegen)
        try:
            time_one(name)
            ok.append(name)
        except Exception as e:  # noqa: BLE001
            died |= fail(name, e)
    if died:
        rewarm(ok)  # members warmed before the death lost that warmth
    times: dict[str, list[float]] = {n: [] for n in ok}
    for _ in range(passes):
        for name in list(ok):
            if name not in times:
                continue  # dropped by a rewarm failure mid-pass
            try:
                times[name].append(time_one(name))
            except Exception as e:  # noqa: BLE001
                ok.remove(name)
                times.pop(name)
                if fail(name, e):
                    rewarm(ok)
                    times = {n: ts for n, ts in times.items() if n in ok}
    block: dict = {"queries_median": {n: round(median(ts), 3) for n, ts in times.items() if ts}}
    if errors:
        block["errors"] = errors
    if revived:
        block["revived"] = True
    return block


class Runner:
    """Times registered queries on one Spark session, built by
    ``factory``; a member that kills the context (in local mode an
    executor-thread OOM stops the whole SparkContext) costs that member
    only, because :meth:`revive_if_dead` rebuilds the session from the
    same factory — a revival inside a low-core block stays low-core."""

    def __init__(self, registry: dict, factory):
        self.registry = registry
        self.factory = factory
        self.spark = factory()

    def time(self, name: str, data_dir: str) -> float:
        """Seconds to build ``name`` over ``data_dir`` and run it into
        the ``noop`` sink: full evaluation of every output column, zero
        materialization — immune to count()'s column pruning. Query
        construction is inside the timing, so queries with eager staging
        (localCheckpoint) are charged for it."""
        t0 = time.time()
        df = self.registry[name].fn(self.spark, data_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def restart(self, factory=None) -> None:
        """Stop the session and build a new one (from ``factory`` when
        given, which then becomes the runner's factory)."""
        # A JVM-side stop (executor OOM) leaves the PYTHON-side
        # singletons pointing at the dead session, and getOrCreate then
        # returns/patches THAT instead of building a new one
        # ("LiveListenerBus is stopped"). spark.stop() clears them even
        # when the JVM context is already gone.
        try:
            self.spark.stop()
        except Exception:  # noqa: BLE001 — best-effort teardown of a corpse
            pass
        if factory is not None:
            self.factory = factory
        self.spark = self.factory()

    def revive_if_dead(self) -> bool:
        try:
            dead = self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:  # noqa: BLE001 — a dead gateway counts as dead
            dead = True
        if dead:
            self.restart()
        return dead

    def block(self, members: list[str], data_dir: str, passes: int = 3) -> dict:
        """:func:`probe_block` over ``members`` at ``data_dir``."""
        return probe_block(
            members, lambda n: self.time(n, data_dir), self.revive_if_dead, passes
        )


_CLIFF = 3.0  # flag a scale probe member when time ratio > _CLIFF * data ratio
STEADY_PASSES = 5  # timed passes per headline query after the cold one


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from chyme_spark.registry import last_green_rounds, load_all
    from chyme_spark.session import get_spark

    registry = load_all()
    bench_session = functools.partial(get_spark, "chyme_bench")
    runner = Runner(registry, bench_session)
    names = [n for n in HEADLINE if n in registry]

    # warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session bring-up
    runner.time("d14_hash_agg_q1", sf_dir)
    timings = {name: round(runner.time(name, sf_dir), 3) for name in names}

    # steady-state passes: execution with plan/codegen already JIT'd —
    # the per-query number a long-running cluster actually pays. The
    # headline `value` stays the cold pass for round-over-round
    # comparability. STEADY_PASSES passes with per-query MEDIAN (+ spread)
    # so a host-load wobble on any single pass can't masquerade as a
    # regression: `queries_steady` is the median, `queries_steady_spread`
    # the max-min across passes.
    passes = [{n: runner.time(n, sf_dir) for n in names} for _ in range(STEADY_PASSES)]
    steady = {n: round(median([p[n] for p in passes]), 3) for n in names}
    spread = {
        n: round(max(p[n] for p in passes) - min(p[n] for p in passes), 3) for n in names
    }
    # scaling-contract fields: the effective master and shuffle-partition
    # count the headline battery ran under, so the driver can verify
    # $SPARK_GRAFT_CPUS is honored mechanically
    main_master = runner.spark.sparkContext.master
    main_shuffle_parts = int(runner.spark.conf.get("spark.sql.shuffle.partitions"))

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # the sf1/sf2 ratios' SAME-ROUND sf0.1 denominators: headline
    # steady medians, then rotation and probe_base medians
    base = dict(steady)

    def rotation_block() -> dict:
        # HEADLINE is fixed for round-over-round comparability; the
        # rotation times the cohort of the round being benched (the one
        # after the latest CORRECTNESS_r{N}.json). Runs BEFORE the
        # scale probes so a probe OOM cannot sink it.
        round_ = 1 + max(last_green_rounds().values())
        members = rotation(registry, round_)
        blk = {"members": members, "round": round_}
        blk.update(runner.block(members, sf_dir))
        base.update(blk["queries_median"])
        return blk

    def probe_base() -> dict | None:
        # probe members with no sf0.1 median in this run yet get a
        # dedicated block, so every scale ratio is apples-to-apples,
        # never a cross-round comparison. Only when the scale probes
        # will consume it: sf == 0.1.
        needed = [
            n for n in dict.fromkeys(SF1_HEAVY + SF2_SKEW)
            if n in registry and n not in base
        ]
        if not needed or sf != "0.1":
            return None
        blk = {"members": needed}
        blk.update(runner.block(needed, sf_dir))
        base.update(blk["queries_median"])
        return blk

    def scale(members: list[str], factor: int, dir_var: str, default_dir: str) -> dict | None:
        # The 2x gate at sf0.1 cannot see a cost curve that bends far
        # above the data ratio: re-run the heaviest ops at a
        # deterministic ``factor``x scale-up of sf0.1 (chyme_spark.scaleup
        # — replicated key spaces, no RNG; the scaled dirs are
        # content-keyed caches, so repeat runs skip generation) and flag
        # any query whose ratio to its sf0.1 median exceeds _CLIFF x the
        # data ratio. 10x (SF1_HEAVY) probes the heaviest shuffle/explode
        # ops; 20x (SF2_SKEW) doubles every key group again for the
        # skew-sensitive candidate generators.
        if sf != "0.1":
            return None
        from chyme_spark.scaleup import ensure_scaled

        d = os.environ.get(dir_var, default_dir)
        t0 = time.time()
        ensure_scaled(runner.spark, sf_dir, d, factor=factor)
        blk = {"dir": d, "factor": factor, "gen_sec": round(time.time() - t0, 3)}
        blk.update(runner.block([n for n in members if n in registry], d))
        ratio = {
            n: round(v / base[n], 1) if base.get(n) else None
            for n, v in blk["queries_median"].items()
        }
        blk["ratio_vs_sf0.1"] = ratio
        blk["flagged_scale_cliff"] = sorted(
            n for n, r in ratio.items() if r is not None and r > _CLIFF * factor
        )
        return blk

    def core_scaling() -> dict | None:
        # The driver's own 8-core re-run at sf0.1 cannot tell serial from
        # parallel: headline queries are 0.1-2 s there, fixed overhead
        # dominates and ratios sit at ~1. Re-run the CORE_SCALE members
        # at sf1 on a quarter-core session and record high/low speedups:
        # a genuinely parallel op shows a ratio well above 1 once the
        # work dwarfs fixed overhead.
        sf1 = blocks.get("sf1", {})
        if "queries_median" not in sf1:
            return None
        high = runner.spark.sparkContext.defaultParallelism
        low = max(2, high // 4)
        runner.restart(functools.partial(
            get_spark,
            "chyme_bench_lowcore",
            master=f"local[{low}]",
            extra_conf={"spark.sql.shuffle.partitions": str(low)},
        ))
        try:
            low_blk = runner.block([n for n in CORE_SCALE if n in registry], sf1["dir"], passes=2)
        finally:
            runner.restart(bench_session)  # the contract session, for sf2 + calibration
        low_med = low_blk.pop("queries_median")
        high_med = sf1["queries_median"]
        return {
            "dir": sf1["dir"],
            "cpus_high": high,
            "cpus_low": low,
            "queries_median_low": low_med,
            "queries_median_high": {n: high_med.get(n) for n in low_med},
            # >1 = the op ran faster with more cores; ~1 = fixed
            # overhead still dominates even at sf1
            "speedup_high_over_low": {
                n: round(v / high_med[n], 2) for n, v in low_med.items() if high_med.get(n)
            },
            **low_blk,
        }

    # membership: the module-scope lists and rotation() (guarded by
    # test_bench_battery)
    specs = [
        ("rotation", rotation_block),
        ("probe_base", probe_base),
        ("sf1", lambda: scale(SF1_HEAVY, 10, "SPARK_GRAFT_SF1_DIR", "/tmp/chyme_sf1")),
        ("core_scaling", core_scaling),
        ("sf2", lambda: scale(SF2_SKEW, 20, "SPARK_GRAFT_SF2_DIR", "/tmp/chyme_sf2")),
    ]
    blocks: dict[str, dict] = {}
    for key, build in specs:
        try:
            blk = build()
        except Exception as e:  # noqa: BLE001 — a probe must never sink the bench line
            blk = {"error": _error(e)}
            if runner.revive_if_dead():
                blk["revived"] = True
        if blk is not None:
            blocks[key] = blk

    calibration = _cpu_calibration()
    # calibration-normalized medians: per-query median divided by the
    # host-speed constant, so cross-round comparisons are self-serve —
    # compare `queries_median_calibrated` directly between BENCH_r{N}.json
    # files and host drift cancels out (unit: multiples of the
    # calibration workload, not seconds)
    calibrated = {n: round(v / calibration, 2) for n, v in steady.items()}
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_steady": steady,
        "queries_median": steady,  # alias: steady numbers ARE medians now
        "queries_steady_spread": spread,
        "steady_passes": STEADY_PASSES,
        "steady_total": round(sum(steady.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # single-thread host-speed constant (see _cpu_calibration):
        # divide query times by (this / a reference run's value) before
        # calling a cross-round delta a regression
        "cpu_calibration_sec": calibration,
        "queries_median_calibrated": calibrated,
        "steady_total_calibrated": round(sum(calibrated.values()), 2),
        "master": main_master,
        "shuffle_partitions": main_shuffle_parts,
        **blocks,
    }
    print(json.dumps(out))
    # Compact headline line: the driver records only a bounded stdout
    # tail, and the full JSON above outgrew it. This line is small enough
    # to always land inside any tail window, so the headline metrics stay
    # machine-readable.
    summary = {
        "steady_total": out["steady_total"],
        "cpu_calibration_sec": out["cpu_calibration_sec"],
        "steady_total_calibrated": out["steady_total_calibrated"],
        "n_queries": len(names),
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "master": main_master,
        "shuffle_partitions": main_shuffle_parts,
    }
    core = blocks.get("core_scaling", {})
    if "speedup_high_over_low" in core:
        sp = core["speedup_high_over_low"].values()
        summary["core_scaling_speedup_max"] = max(sp) if sp else None
        summary["core_scaling_cpus"] = f"{core['cpus_low']}->{core['cpus_high']}"
    for key in ("sf1", "sf2"):
        blk = blocks.get(key, {})
        if "ratio_vs_sf0.1" in blk:
            ratios = [r for r in blk["ratio_vs_sf0.1"].values() if r is not None]
            summary[f"{key}_ratio_max"] = max(ratios) if ratios else None
            summary[f"{key}_flagged"] = blk["flagged_scale_cliff"]
    rot = blocks.get("rotation", {})
    if "queries_median" in rot:
        summary["rotation_n"] = len(rot["queries_median"])
        summary["rotation_total"] = round(sum(rot["queries_median"].values()), 3)
    print("BENCH_SUMMARY " + json.dumps(summary))
    print(final_line(summary, steady))


def final_line(summary: dict, steady: dict) -> str:
    """VERY LAST stdout line: pure compact JSON (VERDICT r10 #2).

    The driver parses the FINAL stdout line as JSON — the BENCH_SUMMARY
    line above carries a text prefix and the full dump outgrew the
    captured tail in r5-r10 ("parsed": null since r5), so this line is
    (a) the last thing printed, (b) prefix-free, and (c) bounded:
    summary fields + per-query sf0.1 steady medians only (~1.5 KB at 40
    queries — tests/test_bench_battery.py pins the size bound).
    Everything deeper (spreads, probe blocks, rotation medians) stays
    in the full JSON above for the reference tooling.

    "metric" is deliberately the FIRST key: tail-scrapers that locate
    the payload by searching for '{"metric"' (tools/compare_bench.py
    does; the driver may) must match this line, not only the full dump
    whose head the 2000-byte tail usually cuts off.

    Size is guarded at RUNTIME, not just in the test: flagged-cliff
    query-name lists are reduced to counts (a bad round could add
    ~500B of names), and if the line still exceeds the budget the
    per-query medians are dropped before the headline fields are —
    a short parse beats a truncated one."""
    final = {"metric": "headline_queries_total_wall_clock"}
    for k, v in summary.items():
        if k.endswith("_flagged") and isinstance(v, list):
            final[k + "_n"] = len(v)
        else:
            final[k] = v
    final["queries"] = steady
    line = json.dumps(final, separators=(",", ":"))
    if len(line) > 1900:  # the driver's captured tail is 2000 BYTES
        final.pop("queries")
        final["queries_dropped"] = "final line exceeded the 2000B driver tail"
        line = json.dumps(final, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()

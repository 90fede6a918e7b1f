"""The product plans carry no CartesianProduct and no unbounded
BroadcastNestedLoopJoin; and since that verdict is only as good as the
plan walker, its verdicts are pinned on constructed plans: every
acceptance rule and every rejection rule gets a minimal physical plan
that must keep classifying the same way."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from plan_lint import (  # noqa: E402
    _audit_bnlj,
    audit,
    plan_string,
    product_plans,
    violation,
)

from ocr_search_spark.session import literal_df  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _bnlj(df):
    """(bounded, unbounded) counts; sanity-check a BNLJ exists at all so
    a Catalyst strategy change cannot silently vacuum the test."""
    ok, bad = _audit_bnlj(df)
    assert ok + bad >= 1, "expected a BroadcastNestedLoopJoin in the plan"
    return ok, bad


def test_literal_explode_is_bounded(spark):
    stream = spark.range(10_000)
    probe = literal_df(spark, ["a", "b", "c"], "q")
    assert _bnlj(stream.crossJoin(F.broadcast(probe))) == (1, 0)


def test_small_range_bounded_large_range_not(spark):
    stream = spark.range(10_000)
    assert _bnlj(stream.crossJoin(F.broadcast(spark.range(100)))) == (1, 0)
    # above the literal-Range cap: rows are program-literal but no longer
    # "tiny at any scale" — the walker must refuse
    assert _bnlj(stream.crossJoin(F.broadcast(spark.range(200_000)))) == (0, 1)


def test_scalar_aggregate_is_bounded(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    total = docs.agg(F.count("*").alias("n"))
    assert _bnlj(docs.crossJoin(F.broadcast(total))) == (1, 0)


def test_collect_list_aggregate_is_not_bounded(spark):
    """One row, but the payload grows with the corpus — must reject."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    smuggle = docs.agg(F.collect_list("doc_id").alias("ids"))
    assert _bnlj(docs.crossJoin(F.broadcast(smuggle))) == (0, 1)


def test_raw_scan_broadcast_is_not_bounded(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    side = docs.where(F.col("doc_id") % 100 == 7).select("doc_id")
    assert _bnlj(docs.crossJoin(F.broadcast(side))) == (0, 1)


def test_limit_over_scan_is_bounded(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    side = docs.where(F.col("doc_id") < 10).limit(10).select("doc_id")
    assert _bnlj(docs.crossJoin(F.broadcast(side))) == (1, 0)


def test_keyed_aggregate_is_not_bounded(spark):
    """Group count follows key cardinality — corpus-dependent: reject."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    per_key = docs.groupBy("lang").agg(F.count("*").alias("n"))
    assert _bnlj(docs.crossJoin(F.broadcast(per_key))) == (0, 1)


def test_product_plans_have_no_cartesian_or_unbounded_bnlj(spark, tmp_path):
    """No product plan has a CartesianProduct or an unbounded BNLJ, and the
    query plan has no shuffle Exchange."""
    plans = product_plans(spark, str(tmp_path))
    assert set(plans) == {
        "term_postings[arrow]", "term_postings[columnar]", "match_terms",
        "merge_doc_batch", "sync_postings", "sync_membership", "sync_filelib",
    }
    for name, df in plans.items():
        info = audit(df, plan_string(df))
        assert violation(name, info) is None, (name, info)
    assert audit(plans["match_terms"], plan_string(plans["match_terms"]))["shuffles"] == 0
    # a poll reads each changed source file once: the postings and
    # membership writes run off that materialized read, not the files
    source = str(tmp_path / "source")
    for name in ("sync_postings", "sync_membership"):
        scans = [
            line for line in plan_string(plans[name]).splitlines()
            if "Location:" in line and source in line
        ]
        assert scans == [], (name, scans)

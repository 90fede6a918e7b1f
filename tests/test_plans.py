"""Plan-shape regression guards: the performance story is TESTED, not
hoped. Each assertion pins a physical-plan property that a future
refactor could silently lose (an extra shuffle, a nested-loop join, a
lost broadcast) — exactly the regressions .explain review catches once
and tests keep caught. Plans are inspected pre-execution (AQE initial
plan), which is what the optimizer statically guarantees.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def tree_of(df) -> str:
    """Just the plan tree (first block) — node names appear once here,
    while the full formatted output repeats them in the detail section."""
    return plan_of(df).split("\n\n")[0]


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_extraction_is_shuffle_free(spark):
    from ocr_search_spark import corpus
    from ocr_search_spark.operators.extract import extract_spans_columnar

    docs = corpus.documents_table(spark, 50, skew=False)  # un-cached: real plan
    p = plan_of(extract_spans_columnar(docs))
    assert "Exchange" not in p, "extraction must stay a narrow map"
    assert "codegen id" in p, "extraction must run inside whole-stage codegen"


def test_postings_single_shuffle(spark, corpus_df):
    from ocr_search_spark.operators.extract import extract_spans_columnar
    from ocr_search_spark.operators.tokenize import term_postings

    ext = extract_spans_columnar(corpus_df.select("doc_id", "spans"))
    df = term_postings(ext.select("doc_id", "spans"))
    t = tree_of(df)
    n_exchanges = t.count("Exchange")
    assert n_exchanges == 1, f"index build must shuffle exactly once, saw {n_exchanges}"
    assert "MapInPandas" in t  # CJK stage is an isolated plan node
    assert "partial_count" in plan_of(df), "map-side partial aggregation lost"


def test_search_is_one_takeordered_scan(spark, corpus_df, tmp_path):
    """A stored-postings query is one Spark job of one stage: the term
    filter is pushed into the Parquet scan and the top-n runs as a
    TakeOrderedAndProject, with no aggregation exchange and no join."""
    from ocr_search_spark.operators import search
    from ocr_search_spark.operators.extract import extract_spans_columnar
    from ocr_search_spark.operators.tokenize import term_postings

    ext = extract_spans_columnar(corpus_df.select("doc_id", "spans"))
    term_postings(ext.select("doc_id", "spans")).write.parquet(str(tmp_path / "p"))
    postings = spark.read.parquet(str(tmp_path / "p"))

    top = search._top_postings(postings, ["scan", "table"], None, 20)
    t = tree_of(top)
    assert "TakeOrderedAndProject" in t, "top-k must not be a global sort"
    for node in ("Exchange", "Join", "Aggregate"):
        assert node not in t, node
    assert "PushedFilters: [In(term, [scan,table])]" in plan_of(top)

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def work(query: str, gid: str) -> tuple[int, int]:
        sc.setJobGroup(gid, "one stored search")
        try:
            search.search(spark, postings, query).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = tracker.getJobIdsForGroup(gid)
        return len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)

    assert work("table scan", "plans-search-terms") == (1, 1)
    assert work("the of and", "plans-search-stopwords") == (0, 0)


def test_custom_joins_avoid_nested_loop(spark):
    from ocr_search_spark.operators.joins import asof_join, range_join_binned

    left = spark.range(100).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 10).alias("t"), F.col("id").alias("lv")
    )
    right = spark.range(20).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 55).alias("rt"), F.col("id").alias("rv")
    )
    p = plan_of(asof_join(left, right, on=["k"], left_on="t", right_on="rt"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p

    points = spark.range(100).select(F.col("id").alias("p"), F.col("id").alias("pv"))
    iv = spark.range(10).select(
        (F.col("id") * 17).alias("lo"), (F.col("id") * 17 + 30).alias("hi")
    )
    p2 = plan_of(range_join_binned(points, "p", iv, "lo", "hi", bin_width=16))
    assert "BroadcastNestedLoopJoin" not in p2
    assert "CartesianProduct" not in p2


def test_dedup_lsh_no_cartesian(spark, sf_dir):
    from ocr_search_spark.training import dedup

    sigs = dedup.minhash_signatures(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), k=3, num_hashes=16
    )
    p = plan_of(dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_profile_table_values_and_single_pass(spark):
    from ocr_search_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 2.505), (2, "b", None), (3, None, 10.0), (4, "b", 0.125)],
        "id long, s string, x double",
    )
    out = {r["column"]: r for r in
           profile_table(df, decimals={"x": "decimal(10,3)"}).collect()}
    assert set(out) == {"id", "s", "x"}
    assert (out["id"]["n_rows"], out["id"]["n_nonnull"], out["id"]["n_distinct"]) == (4, 4, 4)
    assert (out["s"]["n_nonnull"], out["s"]["n_distinct"]) == (3, 2)
    assert (out["s"]["min_str"], out["s"]["max_str"]) == ("a", "b")
    # typed (numeric) ordering, then decimal-quantized string render
    assert (out["x"]["min_str"], out["x"]["max_str"]) == ("0.125", "10.000")
    assert out["x"]["n_nonnull"] == 3

    import pytest

    with pytest.raises(ValueError):
        profile_table(df, ["nope"])

    # single pass: exactly one aggregate over exactly one scan
    plan = profile_table(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


def test_validate_table_rules(spark):
    from ocr_search_spark.operators.profile import validate_table
    import pytest as _pt

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "a"), (2, 500.0, None), (3, -1.0, "b")],
        "k long, v double, s string",
    )
    dim = spark.createDataFrame([("a",), ("b",)], "s string")
    out = {
        r["rule"]: r["n_violations"]
        for r in validate_table(
            df,
            not_null=["v", "s"],
            in_range=[("v", 0.0, 100.0)],
            unique=[("k",)],
            foreign_key=[("s", dim, "s")],
        ).collect()
    }
    assert out["not_null:v"] == 1
    assert out["not_null:s"] == 1
    assert out["in_range:v:0:100"] == 2      # 500 and -1; NULL not counted
    assert out["unique:k"] == 1              # k=2 twice -> one surplus row
    assert out["foreign_key:s"] == 0         # NULL s doesn't violate FK
    with _pt.raises(ValueError):
        validate_table(df)


def test_grouped_regression_closed_form(spark):
    """OLS coefficients match the hand formula; degenerate group NULLs."""
    import math

    from ocr_search_spark.operators.profile import grouped_regression

    rows = [
        # group a: y = 2x + 1 exactly -> slope 2.0, intercept 1.0
        ("a", 1, 3), ("a", 2, 5), ("a", 3, 7),
        # group b: noisy
        ("b", 1, 2), ("b", 2, 2), ("b", 3, 5),
        # group c: all x equal -> degenerate
        ("c", 4, 1), ("c", 4, 9),
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["g"]: r for r in grouped_regression(df, "g", "x", "y").collect()}
    assert out["a"]["slope_e6"] == 2_000_000
    assert out["a"]["intercept_e6"] == 1_000_000
    n, sx, sy, sxy, sxx = 3, 6, 9, 21, 14
    slope = math.floor(1e6 * (n * sxy - sx * sy) / (n * sxx - sx * sx))
    assert out["b"]["slope_e6"] == slope
    assert out["b"]["intercept_e6"] == math.floor((sy * 1000000 - slope * sx) / n)
    assert out["c"]["slope_e6"] is None and out["c"]["intercept_e6"] is None

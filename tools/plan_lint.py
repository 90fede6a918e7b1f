"""Physical-plan lint over the product's query and build plans.

For each plan the jobs run — the term-filtered top-n scan behind
``search`` (``serve`` answers from a driver-side index and plans no
query), the postings build over the arrow and columnar extraction paths, one
``merge_doc_batch`` of the streaming maintenance path, and the postings,
membership and file library frames one ``sync_once`` poll commits — it
builds the DataFrame over a small synthetic corpus and inspects the
physical plan (no collect) for the two operators that turn into
corpus-squared work at scale:

* ``CartesianProduct``        — always a violation (O(N·M) rows moved);
* ``BroadcastNestedLoopJoin`` — a violation unless the broadcast side
  is PROVABLY input-size-independent. The lint walks the BNLJ's build
  subtree and accepts it only when every path bottoms out in

    - an aggregate with ``keys=[]`` whose expressions are scalar
      (sum/count/avg/min/max …) — exactly one row, O(1) bytes. An
      empty-keys ``collect_list``/``collect_set`` does NOT qualify:
      one row, but the broadcast payload grows with the corpus;
    - driver-local literal data (``LocalTableScan``, ``OneRowRelation``,
      ``EmptyRelation``) — embedded in the program, cannot grow with
      the input tables;
    - a literal ``Range`` of at most ``_RANGE_CAP`` rows.

  Anything that reaches a file/table scan un-aggregated (or via a
  collect_*) is a real violation: that broadcast ships O(corpus) bytes
  to every task.

The query plan must also carry no shuffle ``Exchange``: a stored search
is one scan and one top-n.

It also prints the shuffle-exchange count per plan so plan growth shows.

Usage: python tools/plan_lint.py [name ...]
Exit 1 on any violation.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

_RANGE_CAP = 100_000  # literal Range rows accepted as "bounded"

# Formatted explain lists every physical node once as "(N) NodeName".
_NODE_RE = re.compile(r"^\(\d+\) (\w+)", re.M)

_SCALAR_ONLY_AGG = re.compile(r"keys=\[\]")
_GROWING_AGG = re.compile(r"collect_list|collect_set")
_RANGE_ROWS = re.compile(r"Range \((-?\d+), (-?\d+)")

_SHUFFLE_FREE = {"match_terms"}  # plans that must not shuffle


def plan_string(df) -> str:
    """Formatted physical plan WITHOUT executing the frame."""
    qe = df._jdf.queryExecution()
    try:
        jvm = df.sparkSession._jvm
        return jvm.PythonSQLUtils.explainString(qe, "formatted")
    except Exception:
        return qe.executedPlan().toString()


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _bounded(node) -> bool:
    """True iff this physical subtree's row count AND byte size are
    independent of the input tables (safe to broadcast at any scale)."""
    name = node.nodeName()
    s = node.simpleString(120)
    if name in ("LocalTableScan", "EmptyRelation") or "OneRowRelation" in s:
        return True
    if name == "Range":
        m = _RANGE_ROWS.search(s)
        return bool(m) and abs(int(m.group(2)) - int(m.group(1))) <= _RANGE_CAP
    if name in ("GlobalLimit", "CollectLimit", "TakeOrderedAndProject"):
        # row count capped by a program-literal n, independent of input
        return True
    if "Aggregate" in name and _SCALAR_ONLY_AGG.search(s):
        # one row; O(1) bytes unless it smuggles the corpus via collect_*
        if not _GROWING_AGG.search(node.toString().split("\n", 1)[0]):
            return True
        # 1-row but data-dependent payload: bounded only if the input was
        return all(_bounded(c) for c in _children(node))
    if name.startswith("Scan") or "FileScan" in name or name == "BatchScan":
        return False
    kids = _children(node)
    if not kids:  # unknown leaf: be conservative
        return False
    # project/filter/sort/limit/exchange/join/generate over bounded
    # inputs stay bounded (explode factors over literal data are fixed
    # by the program, not the corpus)
    return all(_bounded(c) for c in kids)


def _audit_bnlj(df) -> tuple[int, int]:
    """(bounded, unbounded) BroadcastNestedLoopJoin counts, walking the
    pre-AQE physical plan tree."""
    plan = df._jdf.queryExecution().sparkPlan()
    ok = bad = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        kids = _children(node)
        if node.nodeName() == "BroadcastNestedLoopJoin":
            build_right = "BuildRight" in node.simpleString(200)
            build = kids[1] if build_right else kids[0]
            if _bounded(build):
                ok += 1
            else:
                bad += 1
        stack.extend(kids)
    return ok, bad


def audit(df, plan: str) -> dict:
    nodes = _NODE_RE.findall(plan)
    n = lambda name: sum(1 for x in nodes if x == name)
    bounded, unbounded = _audit_bnlj(df)
    return {
        "cartesian": n("CartesianProduct"),
        "bnlj_ok": bounded,
        "bnlj_bad": unbounded,
        # plain "Exchange" = shuffle; BroadcastExchange is a distinct node
        "shuffles": n("Exchange"),
        "bhj": n("BroadcastHashJoin"),
        "smj": n("SortMergeJoin"),
    }


def violation(name: str, info: dict) -> str | None:
    """The verdict for a plan that fails the lint, else None."""
    if info["cartesian"]:
        return "CARTESIAN"
    if info["bnlj_bad"]:
        return "BNLJ-UNBOUNDED"
    if name in _SHUFFLE_FREE and info["shuffles"]:
        return "SHUFFLE"
    return None


def product_plans(spark, work_dir: str) -> dict:
    """name -> DataFrame for every product plan the lint covers. The
    query plan is the frame ``match_terms`` collects, over a stored
    postings table as ``jobs.py search`` reads it; the merge plan is the
    one ``merge_doc_batch`` commits."""
    from ocr_search_spark import corpus
    from ocr_search_spark.operators.extract import extract_spans
    from ocr_search_spark.operators.maintenance import doc_catalog
    from ocr_search_spark.operators.search import _top_postings
    from ocr_search_spark.operators.tokenize import term_postings
    from ocr_search_spark.streaming.index_maintain import (
        merge_doc_batch,
        postings_table,
    )

    docs = corpus.synthesize(spark, 200, skew=True)
    spans = docs.select("doc_id", "spans")
    plans = {
        f"term_postings[{impl}]": term_postings(
            extract_spans(spans, impl=impl, skew_threshold=64).select("doc_id", "spans")
        )
        for impl in ("arrow", "columnar")
    }
    plans["term_postings[arrow]"].write.parquet(f"{work_dir}/postings")
    doc_catalog(docs).write.parquet(f"{work_dir}/docs")
    postings = spark.read.parquet(f"{work_dir}/postings")
    catalog = spark.read.parquet(f"{work_dir}/docs")
    plans["match_terms"] = _top_postings(postings, ["scan", "table"], catalog, 20)

    # merge_doc_batch commits through BucketedTable._commit_touched; record
    # the frame it is handed, on this table instance only
    table = postings_table(spark, f"{work_dir}/maintained", n_buckets=8)
    merge_doc_batch(table, spans)
    committed = []
    commit = table._commit_touched

    def record(touched, final):
        committed.append(final)
        commit(touched, final)

    table._commit_touched = record
    merge_doc_batch(table, spans.limit(20))
    plans["merge_doc_batch"] = committed[0]
    plans.update(_sync_plans(spark, spans, work_dir))
    return plans


def _sync_plans(spark, spans, work_dir: str) -> dict:
    """sync_postings / sync_membership / sync_filelib: the frames one mixed
    ``sync_once`` poll (a file added, one deleted, one modified to drop a
    page) hands to ``BucketedTable._commit_touched``, once per table."""
    import pyarrow.parquet as pq

    from ocr_search_spark import sync
    from ocr_search_spark.storage import BucketedTable

    source, warehouse = f"{work_dir}/source", f"{work_dir}/warehouse"
    os.makedirs(source)
    rows = spans.limit(40).toArrow()

    def put(name: str, tbl, mtime_ns: int) -> None:
        pq.write_table(tbl, f"{source}/{name}")
        os.utime(f"{source}/{name}", ns=(mtime_ns, mtime_ns))

    t0 = 1_700_000_000 * 10**9
    for i in range(3):
        put(f"f{i}.parquet", rows.slice(10 * i, 10), t0)
    sync.sync_once(spark, source, warehouse, n_buckets=8)
    put("f0.parquet", rows.slice(0, 9), t0 + 1)
    os.remove(f"{source}/f1.parquet")
    put("f3.parquet", rows.slice(30, 10), t0)

    committed = {}
    commit = BucketedTable._commit_touched

    def record(table, touched, final):
        committed[f"sync_{os.path.basename(table.path)}"] = final
        commit(table, touched, final)

    BucketedTable._commit_touched = record
    try:
        sync.sync_once(spark, source, warehouse, n_buckets=8)
    finally:
        BucketedTable._commit_touched = commit
    return committed


def main() -> int:
    only = set(sys.argv[1:])

    from ocr_search_spark.session import get_spark

    spark = get_spark("plan_lint", cores=8, shuffle_partitions=8)

    violations = []
    with tempfile.TemporaryDirectory() as work_dir:
        for name, df in product_plans(spark, work_dir).items():
            if only and name not in only:
                continue
            t0 = time.time()
            info = audit(df, plan_string(df))
            verdict = violation(name, info)
            if verdict:
                violations.append(name)
            else:
                verdict = "bnlj-bounded" if info["bnlj_ok"] else "ok"
            print(
                f"{verdict:>18}  {name}: shuffles={info['shuffles']} "
                f"bhj={info['bhj']} smj={info['smj']} "
                f"bnlj={info['bnlj_ok']}+{info['bnlj_bad']} "
                f"({time.time() - t0:.1f}s)"
            )

    print("VIOLATIONS:", violations or "none")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())

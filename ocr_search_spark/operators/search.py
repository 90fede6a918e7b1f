"""The search read path: one Spark job per query (SURVEY.md §2.4 Q1-Q7, §3.2).

Reference flow (TermMatcher.class.js:25-53 + ApiHandler.const.js:19-46):
per search term a Mongo ``find`` plus one point lookup *per posting* (N+1),
then an in-memory merge keeping ``score = max(tf)`` per doc, a JS sort, and
a slice. Here a query is one term-filtered scan and one top-n:

    postings where term IN (terms)        (pushed into the Parquet scan)
      [⋉ docs on doc_id]                  (only cataloged docs rank)
      → orderBy(tf desc, doc_id asc).limit(k·|terms|)  (TakeOrderedAndProject)
      → collect; the driver keeps the first k distinct doc_ids

No aggregation exchange: a doc's first posting in (tf desc, doc_id asc)
order is its max tf, every posting ahead of a top-k doc's best one belongs
to a doc that ranks higher, and a doc has at most one posting per term, so
at most (k-1)·|terms| postings come first. The driver holds ≤ k·|terms|
rows (SCALE.md rule 3). The winners come back as an Arrow-backed local
frame, typed like the postings (and catalog) columns; collecting it runs no
Spark job. With ``docs``, the catalog columns of the ≤ k winners are read
by one ``doc_id IN (…)`` lookup.

Scoring semantics pinned from the reference: score is the MAX tf over the
matched terms, not the sum (TermMatcher.class.js:40-51); ties broken by
doc_id ascending for determinism (the reference relies on stable JS sort —
SURVEY §7.0); default k=20 (AppConfig.const.js:22).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .tokenize import term_freq_dict

DEFAULT_MAX_RETURN = 20  # AppConfig.const.js:22 NUM_SEARCH_RETURN

_CATALOG_COLS = ["ori_file_path", "page_idx", "img_path"]


def _top_postings(
    postings: DataFrame, terms: list[str], docs: DataFrame | None, max_return: int
) -> DataFrame:
    """The frame a query executes: the first ``max_return·|terms|``
    matching postings in (tf desc, doc_id asc) order. ``terms`` is
    distinct and non-empty."""
    hits = postings.where(F.col("term").isin(terms))
    if docs is not None:
        hits = hits.join(docs.select("doc_id"), "doc_id", "left_semi")
    return (
        hits.select("doc_id", "tf")
        .orderBy(F.desc("tf"), F.asc("doc_id"))
        .limit(max_return * len(terms))
    )


def match_terms(
    postings: DataFrame,
    terms: list[str],
    docs: DataFrame | None = None,
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Q2-Q5 for an already-tokenized term list. Runs the query now and
    returns the ranked hits as a local frame."""
    spark = postings.sparkSession
    terms = sorted(set(terms))
    best: dict = {}  # doc_id -> score, in rank order
    if terms:  # empty-after-tokenize: no hits (reference: match([]) → [])
        for doc_id, tf in _top_postings(postings, terms, docs, max_return).collect():
            if doc_id not in best:
                best[doc_id] = tf
                if len(best) == max_return:
                    break
    fields = [
        postings.schema["doc_id"],
        StructField("score", postings.schema["tf"].dataType),
    ]
    cols = {"doc_id": list(best), "score": list(best.values())}
    if docs is not None:
        fields = [docs.schema[c] for c in _CATALOG_COLS] + fields
        meta = {}
        if best:
            lookup = docs.where(F.col("doc_id").isin(list(best)))
            rows = lookup.select("doc_id", *_CATALOG_COLS).collect()
            meta = {r["doc_id"]: r for r in rows}
        cols = {c: [meta[d][c] for d in best] for c in _CATALOG_COLS} | cols
    return spark.createDataFrame(pa.table(cols), StructType(fields))


def search(
    spark: SparkSession,
    postings: DataFrame,
    query: str,
    docs: DataFrame | None = None,
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Full Q0-Q5: tokenize the query with the document tokenizer (Q1),
    then match (Q2-Q5)."""
    if not isinstance(query, str):
        raise TypeError("searchTerm must be a string")  # Q0 validation
    if max_return < 1:
        raise ValueError("maxReturn must be a positive integer")
    # query-side tf is discarded: search terms are the distinct keys
    # (ApiHandler.const.js:33 Object.keys)
    return match_terms(postings, list(term_freq_dict(query).keys()), docs, max_return)

"""The search read path as Spark SQL (SURVEY.md §2.4 Q1-Q7, §3.2).

Reference flow (TermMatcher.class.js:25-53 + ApiHandler.const.js:19-46):
per search term a Mongo ``find`` plus one point lookup *per posting* (N+1),
then an in-memory merge keeping ``score = max(tf)`` per doc, a JS sort, and
a slice. Here the whole thing is one declarative plan:

    postings ⋈ broadcast(query_terms)      (semi-join on term)
      → groupBy(doc_id).agg(max(tf) as score)   (hash agg)
      → ⋈ docs on doc_id                    (metadata attach)
      → orderBy(score desc, doc_id asc).limit(k)  (TakeOrderedAndProject)

Scoring semantics pinned from the reference: score is the MAX tf over the
matched terms, not the sum (TermMatcher.class.js:40-51); ties broken by
doc_id ascending for determinism (the reference relies on stable JS sort —
SURVEY §7.0); default k=20 (AppConfig.const.js:22).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import literal_df
from .tokenize import term_freq_dict

DEFAULT_MAX_RETURN = 20  # AppConfig.const.js:22 NUM_SEARCH_RETURN


def match_terms(
    postings: DataFrame,
    terms: list[str],
    docs: DataFrame | None = None,
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Q2-Q5 for an already-tokenized term list."""
    spark = postings.sparkSession
    if not terms:
        # empty-after-tokenize edge case: no hits (reference: match([]) → [])
        terms = ["\uf0d8never-a-term"]
    terms_df = literal_df(spark, sorted(set(terms)), "term")
    scored = (
        postings.join(F.broadcast(terms_df), "term")
        .groupBy("doc_id")
        .agg(F.max("tf").alias("score"))
    )
    if docs is not None:
        scored = scored.join(docs, "doc_id")
        cols = ["ori_file_path", "page_idx", "img_path", "doc_id", "score"]
    else:
        cols = ["doc_id", "score"]
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .select(*cols)
        .limit(max_return)
    )


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

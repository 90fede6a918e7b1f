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


def match_terms_fuzzy(
    postings: DataFrame,
    terms: list[str],
    max_dist: int = 1,
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Typo-tolerant search: a query term also matches vocabulary terms
    within ``max_dist`` Levenshtein edits (the reference has no fuzzy
    mode at all — TermMatcher.class.js:25 is exact-match only).

    Scale shape: edit distance runs against the DISTINCT vocabulary
    (∝ unique terms, not postings), and the vocabulary×query pairing is
    pruned BEFORE the Levenshtein compare by the length prefilter
    (|len(term) − len(q)| ≤ max_dist, a necessary condition for edit
    distance ≤ max_dist) expressed as a join predicate, so only a thin
    length band of the vocabulary reaches the O(len²) compare. The
    classic shared-first-character prefilter is deliberately NOT used:
    it is unsound for edit distance ("spark"→"zpark" is one
    substitution yet differs in the first character) and would
    silently lose recall exactly on first-letter typos. Matched vocabulary
    terms then flow through the normal Q2-Q5 scoring path (max tf,
    doc_id tie-break)."""
    spark = postings.sparkSession
    if not terms:
        # no query terms -> no matches: return the empty result directly
        # instead of running a sentinel term through the vocabulary scan
        return (
            postings.groupBy("doc_id")
            .agg(F.max("tf").alias("score"))
            .limit(0)
        )
    terms_df = literal_df(spark, sorted(set(terms)), "q")
    vocab = postings.select("term").distinct()
    cand = (
        vocab.join(
            F.broadcast(terms_df),
            F.abs(F.length("term") - F.length("q")) <= max_dist,
        )
        .where(F.levenshtein(F.col("term"), F.col("q")) <= max_dist)
        .select("term")
        .distinct()
    )
    return (
        postings.join(F.broadcast(cand), "term")
        .groupBy("doc_id")
        .agg(F.max("tf").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
    )


def prefix_search(
    postings: DataFrame,
    prefix: str,
    max_return: int = DEFAULT_MAX_RETURN,
    max_terms: int = 1000,
) -> DataFrame:
    """Wildcard term search (``val*``): expand the prefix against the
    term dictionary (one filtered DISTINCT over the index — on a sorted/
    bucketed postings table this is a range scan), then score matched
    docs with the pinned max-tf semantics over ALL expanded terms.
    Raises when the expansion exceeds ``max_terms``
    (an unselective prefix like 'a*' expands to a scan-sized OR; the
    reference behavior for runaway queries is an explicit error, not a
    silent corpus scan)."""
    p = prefix.lower().rstrip("*")
    if not p:
        raise ValueError("prefix must be non-empty")
    matched = postings.where(F.col("term").startswith(p))
    n_terms = matched.select("term").distinct().count()
    if n_terms > max_terms:
        raise ValueError(
            f"prefix {prefix!r} expands to {n_terms} terms "
            f"(> max_terms={max_terms}) — refusing the scan-sized OR"
        )
    return (
        matched.groupBy("doc_id")
        .agg(F.max("tf").cast("long").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
    )

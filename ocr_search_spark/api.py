"""Serving-layer semantics: the GET /pages contract.

The engine proper ends at DataFrames; this module pins the thin API
behaviors of the reference so a front-end can swap backends without
seeing different validation or response shapes:

* ``search_pages`` — the /pages handler contract
  (/root/reference/src/ApiServer/ApiHandler.const.js:19-46): parameter
  validation with the reference's exact status codes and messages
  (including the ``^[1-9]\\d*$`` string-regex test on ``maxReturn`` —
  '0', '007', '3.5' are 400s, exactly as there), engine errors wrapped
  as 500, response shaped ``{pageList: [{oriFilePath, pageIdx,
  imgPath}]}`` sliced to maxReturn.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.search import DEFAULT_MAX_RETURN, search

_MAX_RETURN_RE = re.compile(r"^[1-9]\d*$")  # ApiHandler.const.js:23


class ApiError(Exception):
    """HTTP-shaped error: .status + .message (ApiHandler 400/500s)."""

    def __init__(self, status: int, message: str):
        super().__init__(f"{status}: {message}")
        self.status = status
        self.message = message


def search_pages(
    spark: SparkSession,
    postings: DataFrame,
    docs: DataFrame,
    params: dict,
) -> dict:
    """The GET /pages handler, param dict in → response dict out.

    Validation order and messages match ApiHandler.const.js:21-25;
    anything the engine raises past validation surfaces as the
    reference's 500 ('internal server error'). The collect is the API
    boundary — bounded by maxReturn.

    Extension beyond the reference: ``mode=boolean`` routes the query
    through the boolean parser (operators/boolquery.py — AND/OR/NOT,
    parens, quoted single words; a multi-word quote is a 400);
    ``mode=prefix`` routes '<stem>*' wildcards through prefix_search
    (the expansion guard's refusal surfaces as a 400); ``mode=fuzzy``
    tokenizes with the document tokenizer and matches within one edit
    (match_terms_fuzzy). A malformed query is always the CLIENT's
    error → 400 with the operator's message, never a 500."""
    query = params.get("searchTerm")
    max_return = params.get("maxReturn")
    mode = params.get("mode", "terms")
    if not isinstance(query, str):
        raise ApiError(400, "search term is not specified or is in wrong format")
    if max_return is not None and not _MAX_RETURN_RE.match(str(max_return)):
        raise ApiError(400, "maxReturn should be a positive integer")
    if mode not in ("terms", "boolean", "prefix", "fuzzy"):
        raise ApiError(
            400, "mode should be 'terms', 'boolean', 'prefix' or 'fuzzy'"
        )
    k = int(max_return) if max_return is not None else DEFAULT_MAX_RETURN
    try:
        if mode == "boolean":
            from .operators.boolquery import boolean_search

            try:
                scored = boolean_search(postings, query, max_return=k)
            except ValueError as err:
                raise ApiError(400, str(err)) from err
            hits = (
                scored.join(docs, "doc_id")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .select("ori_file_path", "page_idx", "img_path")
            )
        elif mode == "prefix":
            from .operators.search import prefix_search

            if not query.endswith("*") or len(query.rstrip("*")) == 0:
                raise ApiError(400, "prefix query must be '<stem>*'")
            try:
                scored = prefix_search(postings, query, max_return=k)
            except ValueError as err:
                # expansion-guard trip (unselective stem) is the
                # CLIENT's error, like a malformed boolean query
                raise ApiError(400, str(err)) from err
            hits = (
                scored.join(docs, "doc_id")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .select("ori_file_path", "page_idx", "img_path")
            )
        elif mode == "fuzzy":
            from .operators.search import match_terms_fuzzy
            from .operators.tokenize import term_freq_dict

            terms = list(term_freq_dict(query).keys())
            scored = match_terms_fuzzy(postings, terms, max_return=k)
            hits = (
                scored.join(docs, "doc_id")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .select("ori_file_path", "page_idx", "img_path")
            )
        else:
            hits = search(spark, postings, query, docs=docs, max_return=k)
        rows = hits.collect()
    except ApiError:
        raise
    except Exception as err:
        raise ApiError(500, "internal server error") from err
    return {
        "pageList": [
            {
                "oriFilePath": r["ori_file_path"],
                "pageIdx": r["page_idx"],
                "imgPath": r["img_path"],
            }
            for r in rows
        ]
    }

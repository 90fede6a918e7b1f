"""Serving-layer semantics: the GET /pages contract.

This module pins the thin API behaviors of the reference so a front-end
can swap backends without seeing different validation or response shapes:

* ``search_pages`` — the /pages handler contract
  (/root/reference/src/ApiServer/ApiHandler.const.js:19-46): parameter
  validation with the reference's exact status codes and messages
  (including the ``^[1-9]\\d*$`` string-regex test on ``maxReturn`` —
  '0', '007', '3.5' are 400s, exactly as there), engine errors wrapped
  as 500, response shaped ``{pageList: [{oriFilePath, pageIdx,
  imgPath}]}`` sliced to maxReturn, answered from the driver-side
  ``serving_index.of(postings, docs)``: no Spark job after the first
  request for a (postings, docs) pair, which builds it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from . import serving_index
from .operators.search import DEFAULT_MAX_RETURN
from .operators.tokenize import term_freq_dict

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
    anything raised past validation, a failed index build included,
    surfaces as the reference's 500 ('internal server error').
    ``spark`` is unused: the index reads the frames' own session.

    Extension beyond the reference: ``mode=boolean`` (AND/OR/NOT,
    parens, quoted single words: operators/boolquery.py), ``mode=prefix``
    ('<stem>*') and ``mode=fuzzy`` (within one edit). A malformed boolean
    query or an unselective prefix stem is the CLIENT's error → 400 with
    the index's message, never a 500. Every mode ranks only docs with a
    catalog row, so a page list is short of maxReturn only when fewer
    such docs match."""
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
    if mode == "prefix" and (not query.endswith("*") or len(query.rstrip("*")) == 0):
        raise ApiError(400, "prefix query must be '<stem>*'")
    try:
        index = serving_index.of(postings, docs)
        if mode in ("boolean", "prefix"):
            top = index.boolean_top if mode == "boolean" else index.prefix_top
            try:
                codes, _ = top(query, k)
            except ValueError as err:
                raise ApiError(400, str(err)) from err
        else:
            top = index.fuzzy_top if mode == "fuzzy" else index.terms_top
            codes, _ = top(term_freq_dict(query), k)
        pages = index.page_list(codes)
    except ApiError:
        raise
    except Exception as err:
        raise ApiError(500, "internal server error") from err
    return {"pageList": pages}

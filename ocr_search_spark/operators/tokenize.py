"""Tokenization + inverted-index build (SURVEY.md §2.2 E8-E15).

The reference spawns one ``python3 tokenize_and_stem.py`` subprocess per
page *and per query* (Tokenizer.class.js:28-75) — ~100ms fork + NLTK
import per call, globally serialized. Here the whole pipeline is columnar
expressions (lowercase, char strip, punctuation→space, whitespace split,
English filter, regexp-chain lemmatizer) with exactly one Arrow-batched
pandas UDF for the CJK forward-max-match segmenter — the only step that
genuinely needs a dictionary walk.

The inverted index (Mongo ``term_freqs``, DbInterface.class.js:366-381)
becomes `explode → groupBy(doc_id, term).count()`: Spark's hash aggregate
with map-side partial aggregation — the per-doc TF dict of
tokenize_and_stem.py:55-66 falls out of the final aggregate for free.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import textproc
from ..textproc import cjk_chars_col, english_tokens_col, segment_cjk_batch


def _doc_text(extracted: DataFrame, text_col: str = "doc_text") -> DataFrame:
    """(doc_id, spans) → (doc_id, doc_text): span texts joined in offset
    order (spans are offset-ordered by the extraction invariant) — mirrors
    the page-content concatenation of PdfUtil.class.js:140-164."""
    if "spans" in extracted.columns:
        text = F.array_join(F.transform("spans", lambda s: s["text"]), " ")
        return extracted.select("doc_id", text.alias(text_col))
    return extracted


def _cjk_term_rows(doc_text: DataFrame, text_col: str) -> DataFrame:
    """CJK branch as a mapInPandas stage: (doc_id, cjk_chars) → one row per
    segmented term. mapInPandas is a plan-level node (ArrowEvalPython
    cannot be inlined into Generate/Aggregate the way an expression-level
    pandas UDF can), so this composes safely with any downstream plan.
    Docs with no CJK content are filtered out JVM-side first — at web
    scale the Python stage only ever sees the (rare) CJK rows."""
    # The empty-chars filter lives INSIDE the Python stage: a JVM-side
    # .where() on the aliased column would be pushed below the projection
    # and duplicate the (expensive) cjk_chars expression into both Filter
    # and Project. Empty strings cost ~nothing to ship via Arrow.
    chars_df = doc_text.select(
        "doc_id", cjk_chars_col(F.col(text_col)).alias("cjk_chars")
    )

    def seg_iter(batches):
        for pdf in batches:
            pdf = pdf[pdf["cjk_chars"].str.len() > 0]
            if len(pdf) == 0:
                continue
            segs = segment_cjk_batch(pdf["cjk_chars"])
            lens = segs.map(len)
            if lens.sum() == 0:
                continue
            import numpy as np

            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), lens.to_numpy()),
                    "term": [t for ts in segs for t in ts],
                }
            )

    # doc_id keeps its input type (string or int64), so the union with
    # the English rows lines up
    return chars_df.mapInPandas(
        seg_iter, schema=T.StructType(
            [
                T.StructField("doc_id", chars_df.schema["doc_id"].dataType, False),
                T.StructField("term", T.StringType(), False),
            ]
        )
    )


def term_postings(extracted: DataFrame) -> DataFrame:
    """Build the inverted index: (term, doc_id, tf).

    English branch: pure columnar expressions → explode (all JVM-side,
    whole-stage codegen). CJK branch: mapInPandas segmentation over only
    the docs that contain CJK chars. Union → hash aggregate with map-side
    partial aggregation (the per-doc TF dict of tokenize_and_stem.py:55-66
    falls out of the final aggregate for free)."""
    dt = _doc_text(extracted)
    eng_rows = dt.select(
        "doc_id", F.explode(english_tokens_col(F.col("doc_text"))).alias("term")
    )
    all_rows = eng_rows.unionByName(_cjk_term_rows(dt, "doc_text"))
    return all_rows.groupBy("term", "doc_id").agg(
        F.count("*").cast("int").alias("tf")
    )


# ------------------------------------------------- driver-side query path
# The search entry point tokenizes ONE string; doing that through a Spark
# job would be absurd (the reference's per-query subprocess, inverted).
# Same spec, pure Python, shared constants.

import re  # noqa: E402

_PUNCT_TABLE = str.maketrans(textproc.ASCII_PUNCT, " " * len(textproc.ASCII_PUNCT))
_STRIP_TABLE = str.maketrans("", "", textproc.STRIP_CHARS)
_LEMMA_RULES_PY = [
    (re.compile(pat), rep.replace("$1", "\\1")) for pat, rep in textproc.LEMMA_RULES
]
_CJK_KEEP = re.compile(f"[^{textproc.CJK_CHAR_RANGE}]")


def lemmatize_py(token: str) -> str:
    exc = textproc.LEMMA_EXCEPTIONS.get(token)
    if exc is not None:
        return exc
    for pat, rep in _LEMMA_RULES_PY:
        token = pat.sub(rep, token)
    return token


def tokenize_text(text: str) -> list[str]:
    """Pure-Python tokenizer following the textproc SPEC exactly; used for
    single-query tokenization (Q1, ApiHandler.const.js:28-34)."""
    t = text.lower().translate(_STRIP_TABLE).translate(_PUNCT_TABLE)
    out: list[str] = []
    cjk_buf: list[str] = []
    for tok in t.split():
        if tok.isascii():
            if (
                len(tok) > 1
                and re.search("[a-z]", tok)
                and tok not in textproc.STOPWORDS_SET
            ):
                out.append(lemmatize_py(tok))
        else:
            cjk_buf.append(_CJK_KEEP.sub("", tok))
    if cjk_buf:
        out.extend(textproc.segment_cjk("".join(cjk_buf)))
    return out


def term_freq_dict(text: str) -> dict[str, int]:
    """The reference's TermFreqDict shape (Tokenizer.class.js:19-26)."""
    freqs: dict[str, int] = {}
    for t in tokenize_text(text):
        freqs[t] = freqs.get(t, 0) + 1
    return freqs

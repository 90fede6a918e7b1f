"""``search.search`` (one term-filtered takeOrdered scan, the first k
distinct docs kept on the driver) equals ``golden.search`` on random
postings: string doc_ids ranked in UTF-8 byte order, int64 doc_ids in
numeric order, tf ties, repeated query words, and the ``docs`` path that
ranks only cataloged docs. Two fixed cases fill the k·|terms| scan window
exactly with the top-k docs' postings."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ocr_search_spark import golden
from ocr_search_spark.operators import search

# index terms the query tokenizer maps to themselves
VOCAB = [
    w for w in ["table", "merge", "nebula", "zephyr", "summit", "scan", "機器學習", "資料"]
    if golden.tokenize(w) == [w]
]
assert len(VOCAB) >= 6

# U+FF5A sorts before U+1F600 by code point and UTF-8 bytes, after it
# in UTF-16 code units
DOC_IDS = st.one_of(
    st.lists(st.text(alphabet="aAzé頁ｚ\U0001F6000", min_size=1, max_size=3),
             min_size=1, max_size=10, unique=True),
    st.lists(st.one_of(st.integers(0, 12), st.integers(-(2**63), 2**63 - 1)),
             min_size=1, max_size=10, unique=True),
)


def _frames(spark, ids: list, postings: dict, cataloged: list):
    id_type = pa.int64() if isinstance(ids[0], int) else pa.string()
    rows = list(postings.items())
    post = pa.table({
        "term": pa.array([t for (t, _), _ in rows], pa.string()),
        "doc_id": pa.array([d for (_, d), _ in rows], id_type),
        "tf": pa.array([tf for _, tf in rows], pa.int32()),
    })
    docs = pa.table({
        "doc_id": pa.array(cataloged, id_type),
        "ori_file_path": pa.array([f"f/{d}.pdf" for d in cataloged], pa.string()),
        "page_idx": pa.array(list(range(len(cataloged))), pa.int32()),
        "img_path": pa.array([f"{d}.png" for d in cataloged], pa.string()),
    })
    return spark.createDataFrame(post), spark.createDataFrame(docs)


def _check(spark, ids, postings, cataloged, query, k):
    post, docs = _frames(spark, ids, postings, cataloged)
    got = [tuple(r) for r in search.search(spark, post, query, max_return=k).collect()]
    assert got == golden.search(postings, query, k)

    kept = {(t, d): tf for (t, d), tf in postings.items() if d in set(cataloged)}
    page = {d: i for i, d in enumerate(cataloged)}
    want = [
        (f"f/{d}.pdf", page[d], f"{d}.png", d, score)
        for d, score in golden.search(kept, query, k)
    ]
    got = search.search(spark, post, query, docs=docs, max_return=k).collect()
    assert [tuple(r) for r in got] == want


@st.composite
def corpora(draw):
    ids = draw(DOC_IDS)
    postings = draw(st.dictionaries(
        st.tuples(st.sampled_from(VOCAB), st.sampled_from(ids)),
        st.integers(1, 3), min_size=1, max_size=40,
    ))
    cataloged = draw(st.lists(st.sampled_from(ids), unique=True))
    return ids, postings, cataloged


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(corpus=corpora(), data=st.data())
def test_search_equals_golden(spark, corpus, data):
    ids, postings, cataloged = corpus
    # repeated words are one term
    query = " ".join(data.draw(st.lists(st.sampled_from(VOCAB), max_size=4), "words"))
    k = data.draw(st.sampled_from([1, 3, 20]), "k")
    _check(spark, ids, postings, cataloged, query, k)


def test_window_filled_by_top_k_docs(spark):
    """Each top-k doc has a posting for every query term at one tf, so the
    k·|terms| rows the scan keeps are exactly theirs; the k-th doc's best
    posting is the last row a smaller window would drop."""
    terms = ["nebula", "scan", "table"]
    for k in (1, 3, 20):
        top = [f"d{i:02d}" for i in range(k)]
        postings = {(t, d): 5 for d in top for t in terms}
        postings |= {(t, f"e{i:02d}"): 4 for i in range(k) for t in terms}
        ids = top + [f"e{i:02d}" for i in range(k)]
        _check(spark, ids, postings, ids, "table nebula scan table", k)


def test_uncataloged_docs_do_not_fill_the_window(spark):
    """Uncataloged docs outrank every cataloged one on every term: the
    catalog filter must run before the top-n, or they take the window."""
    terms = ["merge", "summit"]
    k = 3
    hidden = [f"a{i}" for i in range(k * len(terms))]
    shown = [f"b{i}" for i in range(k + 1)]
    postings = {(t, d): 9 for d in hidden for t in terms}
    postings |= {(t, d): 2 + i for i, d in enumerate(shown) for t in terms}
    post, docs = _frames(spark, hidden + shown, postings, shown)
    got = search.search(spark, post, "merge summit", docs=docs, max_return=k).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [("b3", 5), ("b2", 4), ("b1", 3)]

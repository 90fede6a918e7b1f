"""The /pages serving index against brute force, and its build discipline.

* All four modes equal a brute-force scorer on random postings: ``terms``
  against ``golden.search``; ``boolean``, ``prefix`` and ``fuzzy``
  against Python set/edit-distance models with the same max-tf, doc_id
  tie-break, top-k scoring. Doc ids are strings (non-ASCII included) or
  int64, terms include CJK, tf is drawn from 1-3 so scores tie, and a
  random part of the docs has no catalog row.
* A /pages request after the first runs no Spark job.
* Racing first requests build the index once and all get the oracle's
  answer.
"""

from __future__ import annotations

import sys
import threading

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ocr_search_spark import api, golden, serving_index
from ocr_search_spark.operators.boolquery import (
    Not,
    Or,
    Term,
    _check_negation,
    parse_boolean,
    term_leaves,
)
from ocr_search_spark.operators.tokenize import term_freq_dict
from ocr_search_spark.serving_index import PostingsIndex

# index terms that the query tokenizer maps to themselves, so a query
# naming them reads exactly them; near neighbours for prefix and fuzzy
VOCAB = [
    w for w in [
        "table", "tablet", "cable", "tale", "merge", "merger", "nebula",
        "zephyr", "summit", "value", "valve", "valuable", "scan", "spark",
        "stark", "row", "機器學習", "深度學習", "學習", "資料", "資料庫",
        "資料處理", "搜尋", "索引",
    ]
    if golden.tokenize(w) == [w]
]
assert len(VOCAB) >= 20


def _edit_distance(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _ranked(scores: dict, k: int) -> list:
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _max_tf(kept: dict, terms) -> dict:
    best: dict = {}
    for (t, d), tf in kept.items():
        if t in terms:
            best[d] = max(best.get(d, 0), tf)
    return best


def _docs_of(kept: dict, node) -> set:
    if isinstance(node, Term):
        return {d for (t, d) in kept if t == node.term}
    if isinstance(node, Or):
        return set().union(*(_docs_of(kept, c) for c in node.children))
    pos = [c for c in node.children if not isinstance(c, Not)]
    out = _docs_of(kept, pos[0])
    for c in pos[1:]:
        out &= _docs_of(kept, c)
    for c in node.children:
        if isinstance(c, Not):
            out -= _docs_of(kept, c.child)
    return out


def _build(ids: list, postings: dict, cataloged: list) -> PostingsIndex:
    id_type = pa.int64() if isinstance(ids[0], int) else pa.string()
    rows = list(postings.items())
    post = pa.table({
        "term": pa.array([t for (t, _), _ in rows], pa.string()),
        "doc_id": pa.array([d for (_, d), _ in rows], id_type),
        "tf": pa.array([tf for _, tf in rows], pa.int64()),
    })
    docs = pa.table({
        "doc_id": pa.array(cataloged, id_type),
        "ori_file_path": pa.array([f"f/{d}.pdf" for d in cataloged], pa.string()),
        "page_idx": pa.array([1] * len(cataloged), pa.int32()),
        "img_path": pa.array([f"{d}.png" for d in cataloged], pa.string()),
    })
    return PostingsIndex(post, docs)


def _hits(index: PostingsIndex, top) -> list:
    codes, scores = top
    return list(zip(index.doc_id.take(pa.array(codes)).to_pylist(), scores.tolist()))


DOC_IDS = st.one_of(
    st.lists(st.text(alphabet="abzé頁0", min_size=1, max_size=3),
             min_size=1, max_size=8, unique=True),
    st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=8, unique=True),
)
BOOLEAN = st.recursive(
    st.sampled_from(VOCAB),
    lambda sub: st.one_of(
        st.tuples(sub, st.sampled_from([" AND ", " OR ", " AND NOT ", " "]), sub)
        .map(lambda t: f"({t[0]}{t[1]}{t[2]})"),
        sub.map(lambda q: f"NOT {q}"),
    ),
    max_leaves=5,
)


@st.composite
def corpora(draw):
    ids = draw(DOC_IDS)
    postings = draw(st.dictionaries(
        st.tuples(st.sampled_from(VOCAB), st.sampled_from(ids)),
        st.integers(1, 3), min_size=1, max_size=40,
    ))
    dropped = draw(st.lists(st.sampled_from(ids), max_size=2, unique=True))
    return ids, postings, [d for d in ids if d not in dropped]


@st.composite
def near_words(draw):
    """A vocabulary word with one deletion, insertion or substitution."""
    word = draw(st.sampled_from(VOCAB))
    i = draw(st.integers(0, len(word) - 1))
    c = draw(st.sampled_from("abelt學資"))
    return draw(st.sampled_from([
        word[:i] + word[i + 1 :], word[:i] + c + word[i:], word[:i] + c + word[i + 1 :],
    ]))


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(corpus=corpora(), data=st.data())
def test_all_modes_equal_brute_force(corpus, data):
    ids, postings, cataloged = corpus
    index = _build(ids, postings, cataloged)
    kept = {key: tf for key, tf in postings.items() if key[1] in set(cataloged)}
    k = data.draw(st.integers(1, 10), "k")

    # terms: the /pages tokenizer path against golden.search
    query = " ".join(data.draw(st.lists(st.sampled_from(VOCAB), max_size=3), "terms"))
    assert _hits(index, index.terms_top(term_freq_dict(query), k)) == golden.search(
        kept, query, k
    )

    # boolean: set algebra over the kept postings, max tf over the
    # positive leaves; a refused negation is refused by both
    query = data.draw(BOOLEAN, "boolean")
    ast = parse_boolean(query)
    try:
        _check_negation(ast)
    except ValueError:
        with pytest.raises(ValueError):
            index.boolean_top(query, k)
    else:
        scores = _max_tf(kept, set(term_leaves(ast)))
        want = _ranked({d: scores[d] for d in _docs_of(kept, ast)}, k)
        assert _hits(index, index.boolean_top(query, k)) == want

    # prefix: the lowercased stem against every kept term, with the guard
    word = data.draw(st.sampled_from(VOCAB), "prefix word")
    stem = word[: data.draw(st.integers(1, len(word)), "stem length")]
    pattern = data.draw(st.sampled_from([stem, stem.upper()]), "case") + "*"
    max_terms = data.draw(st.integers(1, 4), "max_terms")
    near = {t for t, _ in kept if t.startswith(stem)}
    if len(near) > max_terms:
        with pytest.raises(ValueError, match="max_terms"):
            index.prefix_top(pattern, k, max_terms=max_terms)
    else:
        want = _ranked(_max_tf(kept, near), k)
        assert _hits(index, index.prefix_top(pattern, k, max_terms=max_terms)) == want

    # fuzzy: every kept term within one edit of a query term
    terms = data.draw(st.lists(st.one_of(
        st.sampled_from(VOCAB), near_words(),
        st.text(alphabet="abcelmrtv學資料", min_size=1, max_size=6),
    ), max_size=3), "fuzzy")
    near = {t for t, _ in kept if any(_edit_distance(t, q) <= 1 for q in terms)}
    assert _hits(index, index.fuzzy_top(terms, k)) == _ranked(_max_tf(kept, near), k)


# ------------------------------------------------------- Spark-read frames

ROWS = [
    ("table", f"doc{i}", i % 4 + 1) for i in range(12)
] + [("scan", f"doc{i}", 2) for i in range(0, 12, 3)] + [("資料", "doc5", 7)]


def _frames(spark, tmp_path):
    """Postings and catalog read from parquet, as ``jobs.py serve`` reads
    them (a parquet read is a Spark job, a local frame's collect is not)."""
    spark.createDataFrame(ROWS, "term string, doc_id string, tf long") \
        .write.parquet(str(tmp_path / "postings"))
    spark.createDataFrame(
        [(f"doc{i}", f"data/pdf/f{i}.pdf", i, f"doc{i}.png") for i in range(12)],
        "doc_id string, ori_file_path string, page_idx int, img_path string",
    ).write.parquet(str(tmp_path / "docs"))
    return (spark.read.parquet(str(tmp_path / "postings")),
            spark.read.parquet(str(tmp_path / "docs")))


def _oracle_pages(query: str, k: int = 20) -> list:
    hits = golden.search({(t, d): tf for t, d, tf in ROWS}, query, k)
    return [
        {
            "oriFilePath": f"data/pdf/f{d[3:]}.pdf",
            "pageIdx": int(d[3:]),
            "imgPath": f"{d}.png",
        }
        for d, _ in hits
    ]


def test_pages_after_the_first_run_no_spark_job(spark, tmp_path):
    postings, docs = _frames(spark, tmp_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groups = iter(range(100))

    def request(params):
        gid = f"serving-index-test-{next(groups)}"
        sc.setJobGroup(gid, "one /pages request")
        try:
            out = api.search_pages(spark, postings, docs, params)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(gid))

    out, jobs = request({"searchTerm": "table scan"})
    assert jobs >= 1, "the first request reads both tables to build the index"
    assert out["pageList"] == _oracle_pages("table scan")
    for params in (
        {"searchTerm": "table scan"},
        {"searchTerm": "資料", "maxReturn": "3"},
        {"searchTerm": "table AND NOT scan", "mode": "boolean"},
        {"searchTerm": "tab*", "mode": "prefix"},
        {"searchTerm": "tble", "mode": "fuzzy"},
    ):
        out, jobs = request(params)
        assert jobs == 0, params
        assert out["pageList"], params


def test_racing_first_requests_build_once(spark, tmp_path, monkeypatch):
    postings, docs = _frames(spark, tmp_path)
    builds = []
    build = serving_index.PostingsIndex.from_frames

    def counted(p, d):
        builds.append(1)
        return build(p, d)

    monkeypatch.setattr(
        serving_index.PostingsIndex, "from_frames", staticmethod(counted)
    )
    queries = [
        "table", "scan", "table scan", "資料", "scan 資料", "table", "zzz", "scan",
    ]
    barrier = threading.Barrier(len(queries))
    answers: dict = {}

    def client(i, query):
        barrier.wait(timeout=60)
        answers[i] = api.search_pages(spark, postings, docs, {"searchTerm": query})

    threads = [threading.Thread(target=client, args=iq) for iq in enumerate(queries)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the racers as finely as possible
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert len(builds) == 1
    assert [answers[i]["pageList"] for i in range(len(queries))] == [
        _oracle_pages(q) for q in queries
    ]

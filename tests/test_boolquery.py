"""Boolean retrieval: parser algebra + serving-index parity vs a
brute-force Python set evaluation over a tiny hand-built index.

The reference has no boolean surface at all (flat TermFreqDict OR-match,
ApiHandler.const.js:28-34); the oracle here is first principles: evaluate
the same AST with Python sets over the same postings rows."""

from __future__ import annotations

import pyarrow as pa
import pytest

from ocr_search_spark.operators.boolquery import (
    And,
    Not,
    Or,
    Term,
    parse_boolean,
    term_leaves,
)
from ocr_search_spark.serving_index import PostingsIndex

# ------------------------------------------------------------------ parser


def test_precedence_and_binds_tighter_than_or():
    ast = parse_boolean("nebula OR zephyr merge")
    assert ast == Or((Term("nebula"), And((Term("zephyr"), Term("merge")))))


def test_explicit_and_equals_adjacency():
    assert parse_boolean("zephyr AND merge") == parse_boolean("zephyr merge")


def test_parens_override_precedence():
    ast = parse_boolean("(nebula OR zephyr) merge")
    assert ast == And((Or((Term("nebula"), Term("zephyr"))), Term("merge")))


def test_quoted_phrase_and_leaf_normalization():
    # words run through the document tokenizer: lowercase + lemma; a
    # quoted single word is a plain term
    ast = parse_boolean('"Annual" Reports Tables')
    assert ast == And((Term("annual"), Term("report"), Term("table")))
    # a quote that normalizes to nothing drops out like a stopword
    assert parse_boolean('"the" Tables') == Term("table")


def test_single_word_phrase_collapses_to_term():
    assert parse_boolean('"Nebula"') == Term("nebula")


def test_stopword_leaves_drop_out():
    # 'the' is a stopword -> leaf vanishes from the AND list
    assert parse_boolean("the nebula") == Term("nebula")
    # the whole query normalizing away parses to None
    assert parse_boolean("the a of") is None
    assert parse_boolean("   ") is None


def test_double_negation_collapses():
    ast = parse_boolean("nebula AND NOT NOT zephyr")
    assert ast == And((Term("nebula"), Term("zephyr")))


def test_negated_stopword_excludes_nothing():
    assert parse_boolean("nebula AND NOT the") == Term("nebula")


@pytest.mark.parametrize(
    "bad", ["(nebula", "nebula)", '"open phrase', "nebula OR", "AND"]
)
def test_syntax_errors(bad):
    with pytest.raises(ValueError):
        parse_boolean(bad)


def test_lowercase_operators_are_content_words():
    # 'or'/'not'/'and' in lowercase are stopwords, not operators
    assert parse_boolean("nebula or zephyr") == And(
        (Term("nebula"), Term("zephyr"))
    )


def test_term_leaves_excludes_negated():
    ast = parse_boolean('(nebula OR (table value)) AND merge AND NOT summit')
    assert term_leaves(ast) == ["merge", "nebula", "table", "value"]


# ------------------------------------------------------------- evaluation

_DOCS = {
    # doc_id -> token sequence (already normalized index terms)
    "d1": ["nebula", "merge", "table", "value"],
    "d2": ["zephyr", "merge", "merge"],
    "d3": ["nebula", "summit", "merge"],
    "d4": ["table", "value", "merge", "table", "value"],
    "d5": ["value", "table", "nebula"],
    "d6": ["summit", "table", "value", "merge"],
    "d7": ["zephyr"],
}


@pytest.fixture(scope="module")
def tiny_index():
    post_rows = [
        (t, d, toks.count(t)) for d, toks in _DOCS.items() for t in set(toks)
    ]
    term, doc_id, tf = zip(*post_rows)
    postings = pa.table({"term": term, "doc_id": doc_id, "tf": pa.array(tf, pa.int64())})
    docs = pa.table({
        "doc_id": list(_DOCS),
        "ori_file_path": [f"{d}.pdf" for d in _DOCS],
        "page_idx": [1] * len(_DOCS),
        "img_path": [f"{d}.png" for d in _DOCS],
    })
    return PostingsIndex(postings, docs)


def _boolean(index, query, max_return=20):
    """[(doc_id, score)] of ``index.boolean_top``, ranked."""
    codes, scores = index.boolean_top(query, max_return)
    return list(zip(index.doc_id.take(pa.array(codes)).to_pylist(), scores.tolist()))


def _brute(node):
    """Python-set evaluation of an AST over _DOCS."""
    if isinstance(node, Term):
        return {d for d, toks in _DOCS.items() if node.term in toks}
    if isinstance(node, Or):
        out = set()
        for c in node.children:
            out |= _brute(c)
        return out
    if isinstance(node, And):
        pos = [c for c in node.children if not isinstance(c, Not)]
        neg = [c.child for c in node.children if isinstance(c, Not)]
        out = _brute(pos[0])
        for p in pos[1:]:
            out &= _brute(p)
        for n in neg:
            out -= _brute(n)
        return out
    raise TypeError(node)


@pytest.mark.parametrize(
    "query",
    [
        "nebula",
        "nebula merge",
        "nebula OR zephyr",
        "(nebula OR zephyr) AND merge",
        "merge AND NOT summit",
        '(nebula OR ("table" value)) AND merge AND NOT summit',
        "(nebula OR zephyr) (table OR merge) NOT (summit OR value)",
        "missingterm",
        "missingterm OR nebula",
    ],
)
def test_matches_equal_brute_force(tiny_index, query):
    ast = parse_boolean(query)
    got = {d for d, _ in _boolean(tiny_index, query, max_return=len(_DOCS))}
    assert got == _brute(ast)


def test_search_scores_are_max_tf_over_positive_leaves(tiny_index):
    # matched: d1, d2, d4 — score = max tf among positive leaves {merge}
    assert _boolean(tiny_index, "merge AND NOT summit") == [
        ("d2", 2),
        ("d1", 1),
        ("d4", 1),
    ]


def test_search_order_is_score_desc_doc_asc_with_limit(tiny_index):
    # d4 has tf(table)=2 -> score 2; d1/d5/d6 tie at 1, doc_id asc
    assert _boolean(tiny_index, "table value", max_return=2) == [
        ("d4", 2), ("d1", 1),
    ]


def test_unbounded_negation_rejected(tiny_index):
    for q in ["NOT nebula", "nebula OR NOT zephyr", "NOT nebula NOT zephyr"]:
        with pytest.raises(ValueError):
            _boolean(tiny_index, q)


def test_empty_query_returns_empty(tiny_index):
    assert _boolean(tiny_index, "the of a") == []


def test_phrase_without_positional_index_raises(tiny_index):
    # the index is positionless: a multi-word quote is refused at parse
    # time, before the index is read
    with pytest.raises(ValueError, match="phrase"):
        parse_boolean('"table value"')
    with pytest.raises(ValueError, match="phrase"):
        _boolean(tiny_index, 'merge AND NOT "table value"')


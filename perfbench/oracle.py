"""Independent expected outputs, built on ``ocr_search_spark.golden`` (the
pure-Python single-row oracle) and never on the engine's own code paths.

* extraction: span-sequence equality per doc_id against
  ``golden.extract_doc``; postings equality against ``golden.term_postings``;
* search: an inverted dict scored with the ``golden.search`` semantics
  (score = max tf over matched terms, score desc, doc_id asc, top-k), plus
  the AND / OR / AND NOT set algebra for boolean queries.
"""

from __future__ import annotations

from ocr_search_spark import golden

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def spans_as_dicts(spans) -> list[dict]:
    return [{k: s[k] for k in SPAN_FIELDS} for s in spans]


def expected_doc(doc_id: str, spans) -> list[dict]:
    return golden.extract_doc(doc_id, spans_as_dicts(spans))


def expected_terms(doc_id: str, spans) -> dict[str, int]:
    """term -> tf for one source document."""
    post = golden.term_postings({doc_id: expected_doc(doc_id, spans)})
    return {term: tf for (term, _doc), tf in post.items()}


class Index:
    """term -> {doc_id: tf}, the scorer's view of a postings table."""

    def __init__(self):
        self.by_term: dict[str, dict[str, int]] = {}

    @classmethod
    def from_rows(cls, rows) -> "Index":
        idx = cls()
        for term, doc_id, tf in rows:
            idx.by_term.setdefault(term, {})[doc_id] = int(tf)
        return idx

    def set_doc(self, doc_id: str, terms: dict[str, int]) -> None:
        for term, tf in terms.items():
            self.by_term.setdefault(term, {})[doc_id] = tf

    def drop_doc(self, doc_id: str, terms) -> None:
        for term in terms:
            self.by_term.get(term, {}).pop(doc_id, None)

    def _scores(self, terms) -> dict[str, int]:
        scores: dict[str, int] = {}
        for t in terms:
            for doc_id, tf in self.by_term.get(t, {}).items():
                if tf > scores.get(doc_id, 0):
                    scores[doc_id] = tf
        return scores

    @staticmethod
    def _top(scores: dict[str, int], k: int) -> list[tuple[str, int]]:
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def search(self, query: str, k: int) -> list[tuple[str, int]]:
        return self._top(self._scores(set(golden.tokenize(query))), k)

    def search_boolean(self, query: str, k: int) -> list[tuple[str, int]]:
        """``a AND b`` | ``a OR b`` | ``a AND NOT b`` over single words."""
        words = query.split()
        [a], [b] = golden.tokenize(words[0]), golden.tokenize(words[-1])
        docs_a = set(self.by_term.get(a, {}))
        docs_b = set(self.by_term.get(b, {}))
        op = " ".join(words[1:-1])
        if op == "AND":
            matched, positive = docs_a & docs_b, [a, b]
        elif op == "OR":
            matched, positive = docs_a | docs_b, [a, b]
        elif op == "AND NOT":
            matched, positive = docs_a - docs_b, [a]
        else:
            raise ValueError(f"unsupported boolean query {query!r}")
        scores = self._scores(positive)
        return self._top({d: scores.get(d, 0) for d in matched}, k)

    def expected(self, mode: str, query: str, k: int) -> list[tuple[str, int]]:
        if mode == "boolean":
            return self.search_boolean(query, k)
        return self.search(query, k)


def query_terms(query: str) -> set[str]:
    """Every index term a terms-mode query reads: enough postings to score it."""
    return set(golden.tokenize(query))

"""The /pages index: postings and doc catalog as driver-side columns, built
once from Arrow and queried with numpy, so a request runs no Spark job.

Layout (after "Columnar Formatted Inverted Index for Highly-Paralleled,
Vectorized Query Processing", ICDE 2025): a doc code is the row number of
the catalog sorted by ``doc_id`` (UTF-8 byte order is Spark's string order,
int64 sorts numerically), so ordering by code breaks score ties by
``doc_id`` asc. ``terms`` is the sorted term dictionary; ``offsets`` is CSR
into the ``code``/``tf`` columns, sorted by (term, code). The catalog
columns are aligned to the codes. Postings whose doc has no catalog row
are dropped at build, so every mode ranks only pages it can return.

Every mode scores the reference's way: max tf over the matched terms,
score desc, ``doc_id`` asc, top k.
"""

from __future__ import annotations

import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .operators import boolquery as bq

CATALOG = {"ori_file_path": "oriFilePath", "page_idx": "pageIdx", "img_path": "imgPath"}
_NONE = np.zeros(0, np.int64)


def _within_one_edit(a: str, b: str) -> bool:
    if len(a) > len(b):
        a, b = b, a
    if len(b) - len(a) > 1:
        return False
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    # past the first difference: one substitution, or one insertion into a
    return a[i + 1 :] == b[i + 1 :] if len(a) == len(b) else a[i:] == b[i + 1 :]


class PostingsIndex:
    """Inverted index over (term, doc_id, tf) postings and the (doc_id,
    ori_file_path, page_idx, img_path) catalog. Each ``*_top`` query
    returns ``(codes, scores)``, ranked, at most k long."""

    def __init__(self, postings: pa.Table, docs: pa.Table):
        docs = docs.sort_by("doc_id")
        self.doc_id = docs["doc_id"]
        self.pages = docs.select(list(CATALOG)).rename_columns(list(CATALOG.values()))
        code = pc.index_in(postings["doc_id"], value_set=self.doc_id.combine_chunks())
        post = pa.table({"term": postings["term"], "code": code, "tf": postings["tf"]})
        post = post.filter(pc.is_valid(code))
        post = post.sort_by([("term", "ascending"), ("code", "ascending")])
        runs = pc.run_end_encode(post["term"].combine_chunks())
        self.terms = runs.values.to_numpy(zero_copy_only=False)
        self.offsets = np.append(0, runs.run_ends.to_numpy()).astype(np.int64)
        self.code = post["code"].to_numpy().astype(np.int64)
        self.tf = post["tf"].to_numpy().astype(np.int64)
        # fuzzy candidates: term ids by code-point length
        lengths = pc.utf8_length(runs.values).to_numpy()
        self._by_len = np.argsort(lengths, kind="stable")
        self._lens = lengths[self._by_len]

    @classmethod
    def from_frames(cls, postings: DataFrame, docs: DataFrame) -> "PostingsIndex":
        return cls(
            postings.select("term", "doc_id", "tf").toArrow(),
            docs.select("doc_id", *CATALOG).toArrow(),
        )

    def _ids(self, terms) -> np.ndarray:
        """Dictionary positions of those ``terms`` the index holds."""
        q = np.array(sorted(set(terms)), dtype=object)
        pos = np.searchsorted(self.terms, q)
        hit = pos < len(self.terms)
        hit[hit] = self.terms[pos[hit]] == q[hit]
        return pos[hit]

    def _part(self, i: int) -> slice:
        return slice(self.offsets[i], self.offsets[i + 1])

    def _scores(self, ids) -> tuple[np.ndarray, np.ndarray]:
        """(codes, max tf) over the postings of term ids ``ids``."""
        parts = [self._part(i) for i in ids]
        if not parts:
            return _NONE, _NONE
        codes = np.concatenate([self.code[p] for p in parts])
        tfs = np.concatenate([self.tf[p] for p in parts])
        order = np.lexsort((tfs, codes))
        codes, tfs = codes[order], tfs[order]
        last = np.append(codes[1:] != codes[:-1], True)  # a code's max tf
        return codes[last], tfs[last]

    @staticmethod
    def _top(codes: np.ndarray, scores: np.ndarray, k: int):
        order = np.lexsort((codes, -scores))[:k]
        return codes[order], scores[order]

    def terms_top(self, terms, k: int):
        return self._top(*self._scores(self._ids(terms)), k)

    def fuzzy_top(self, terms, k: int):
        """Terms within one edit of a query term; only the vocabulary's
        length band is compared, a longer gap being more than one edit."""
        near: set[int] = set()
        for q in set(terms):
            lo = np.searchsorted(self._lens, len(q) - 1, "left")
            hi = np.searchsorted(self._lens, len(q) + 1, "right")
            band = self._by_len[lo:hi]
            near.update(int(i) for i in band if _within_one_edit(q, self.terms[i]))
        return self._top(*self._scores(sorted(near)), k)

    def prefix_top(self, pattern: str, k: int, max_terms: int = 1000):
        """Terms starting with the lowercased stem of '<stem>*': a range of
        the dictionary. More than ``max_terms`` is refused: an unselective
        stem like 'a*' is a scan-sized OR."""
        stem = pattern.lower().rstrip("*")
        if not stem:
            raise ValueError("prefix must be non-empty")
        # U+10FFFF never occurs in a term: the tokenizer keeps ASCII and CJK
        lo, hi = np.searchsorted(self.terms, [stem, stem + "\U0010ffff"])
        if hi - lo > max_terms:
            raise ValueError(
                f"prefix {pattern!r} expands to {hi - lo} terms "
                f"(> max_terms={max_terms}) — refusing the scan-sized OR"
            )
        return self._top(*self._scores(range(lo, hi)), k)

    def boolean_top(self, query: str, k: int):
        """Docs matching the boolean ``query`` (operators/boolquery.py),
        scored over its positive term leaves."""
        ast = bq.parse_boolean(query)
        if ast is None:
            return _NONE, _NONE
        bq._check_negation(ast)
        codes, scores = self._scores(self._ids(bq.term_leaves(ast)))
        keep = np.isin(codes, self._doc_set(ast), assume_unique=True)
        return self._top(codes[keep], scores[keep], k)

    def _doc_set(self, node) -> np.ndarray:
        """Sorted unique codes: AND / OR / AND NOT are intersect / union /
        difference of the leaves' postings slices."""
        if isinstance(node, bq.Term):
            ids = self._ids([node.term])
            return np.unique(self.code[self._part(ids[0])]) if len(ids) else _NONE
        if isinstance(node, bq.Or):
            out = _NONE
            for c in node.children:
                out = np.union1d(out, self._doc_set(c))
            return out
        pos = [c for c in node.children if not isinstance(c, bq.Not)]
        out = self._doc_set(pos[0])
        for c in pos[1:]:
            out = np.intersect1d(out, self._doc_set(c), assume_unique=True)
        for c in node.children:
            if isinstance(c, bq.Not):
                out = np.setdiff1d(out, self._doc_set(c.child), assume_unique=True)
        return out

    def page_list(self, codes: np.ndarray) -> list[dict]:
        """The /pages entries of ``codes``, in order."""
        return self.pages.take(pa.array(codes, pa.int64())).to_pylist()


_lock = threading.Lock()
_memo: tuple = (None, None, None)


def of(postings: DataFrame, docs: DataFrame) -> PostingsIndex:
    """The index of ``(postings, docs)``: built by the first call for that
    pair, kept until a call names another pair. DataFrames are immutable
    and the memo holds the pair, so its identity keys its content. Racing
    first calls wait for one build."""
    global _memo
    with _lock:
        p, d, index = _memo
        if p is not postings or d is not docs:
            index = PostingsIndex.from_frames(postings, docs)
            _memo = (postings, docs, index)
        return index

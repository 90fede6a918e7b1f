"""Seeded inputs: document corpora and the search query stream. The same
seed always yields the same inputs; the program only ever sees the
generated data."""

from __future__ import annotations

import random

from ocr_search_spark import corpus, golden, textproc
from pyspark.sql import Window
from pyspark.sql import functions as F

# share of synthesized docs a seed keeps: each seed draws its own subset
_KEEP = 0.75


def seeded_corpus(spark, n_docs: int, seed: int):
    """About ``n_docs`` skewed documents (1% mega-docs, CJK spans) with the
    catalog columns (ori_file_path, page_idx): a seed-chosen subset of
    ``corpus.synthesize`` output. Docs are sampled per span count, so every
    seed keeps the same number of docs of each size, mega-docs included,
    and asks the same extraction work of the program."""
    syn = corpus.synthesize(spark, round(n_docs / _KEEP), skew=True)
    stratum = Window.partitionBy(F.size("spans")).orderBy(
        F.xxhash64("doc_id", F.lit(seed))
    )
    return (
        syn.withColumn("_rank", F.percent_rank().over(stratum))
        .where(F.col("_rank") < _KEEP)
        .drop("_rank")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )


def _single_term_words(words):
    """Punctuation-free words the document tokenizer maps to exactly one
    index term (punctuation would read as boolean-query syntax)."""
    return [
        w for w in dict.fromkeys(words)
        if w.isalpha() and len(golden.tokenize(w)) == 1
    ]


class QueryStream:
    """Zipf-skewed queries over the generator vocabulary, the OCR vocabulary
    and the CJK dictionary. The seed picks the words; the shape of the mix
    is fixed so that every seed offers the same work: query sizes cycle
    through 1-3 words, every ZERO_HIT_EVERY-th query carries a zero-hit
    word and, with ``boolean_every``, every such query is a ``mode=boolean``
    AND / OR / AND NOT of two words."""

    ZIPF_S = 1.1
    SIZES = (1, 2, 1, 3, 2)
    ZERO_HIT_EVERY = 20

    def __init__(self, seed: int, boolean_every: int = 0):
        self.rng = random.Random(seed)
        self.boolean_every = boolean_every
        self.n = 0
        words = _single_term_words(corpus.GEN_VOCAB + textproc.OCR_VOCAB)
        words += textproc.CJK_DICT
        # one popularity order for every seed: seeds differ in the words
        # drawn, not in which words are popular
        random.Random(0).shuffle(words)
        self.words = words
        self.weights = [1.0 / (r + 1) ** self.ZIPF_S for r in range(len(words))]
        self.ascii_words = [w for w in words if w.isascii()]
        self.ascii_weights = [1.0 / (r + 1) ** self.ZIPF_S for r in range(len(self.ascii_words))]
        # lowercase letters only: tokenizes to itself and matches nothing
        self.zero_hit = [f"zq{c}{d}xv" for c in "kjw" for d in "plm"]

    def _words(self, k: int, ascii_only: bool) -> list[str]:
        pool, weights = (
            (self.ascii_words, self.ascii_weights) if ascii_only else (self.words, self.weights)
        )
        out = self.rng.choices(pool, weights, k=k)
        if self.n % self.ZERO_HIT_EVERY == 0:
            out[-1] = self.rng.choice(self.zero_hit)
        return out

    def next(self) -> tuple[str, str]:
        """(mode, query text)."""
        self.n += 1
        if self.boolean_every and self.n % self.boolean_every == 0:
            a, b = self._words(2, ascii_only=True)
            op = self.rng.choice(["AND", "OR", "AND NOT"])
            return "boolean", f"{a} {op} {b}"
        k = self.SIZES[self.n % len(self.SIZES)]
        return "terms", " ".join(self._words(k, ascii_only=False))

"""WordPiece greedy longest-match-first encoding as pure DataFrame ops.

The third of the three published subword families this engine models —
BPE (bpe.py, merge-rule replay), unigram-LM (unigram_lm.py, Viterbi),
and WordPiece (Schuster & Nakajima 2012; the BERT tokenizer, Devlin et
al. 2019): within each word, repeatedly take the LONGEST vocabulary
piece matching at the cursor, with non-initial pieces spelled with a
``##`` continuation prefix; if at any cursor position no piece matches,
the ENTIRE word encodes to the single ``[UNK]`` token (the pinned
all-or-nothing BERT semantics, not partial fallback).

Distributed shape — the greedy walk is sequential per word, but the
expensive part is not: the match relation is precomputed in ONE pass
(explode every (position, length ≤ max_piece_len) candidate substring
of the distinct-word table, broadcast-join the literal vocabulary,
keep the max length per (word, position)), and the walk then iterates
over that small table: each round advances every unfinished word by
one piece via a single equi-join on (word, cursor). Rounds = max piece
count per word, bounded by ``max_word_len`` (longer words are [UNK] up
front, exactly BERT's ``max_input_chars_per_word`` guard — which also
caps the candidate explode at max_word_len · max_piece_len rows per
word). State is the distinct-word table, not the corpus: encoding a
10^12-doc corpus joins the finished (word → pieces) map back to tokens
by word.

Every step is deterministic at any parallelism (longest match is a
max, ties impossible since lengths are distinct integers), and the
walk is exactly replayable as a recursive CTE over the same
best-match relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import literal_df

UNK = "[UNK]"


def wordpiece_matches(
    words: DataFrame,
    vocab: list[str],
    max_piece_len: int,
    word_col: str = "word",
) -> DataFrame:
    """(word, pos, len) — for every cursor position of every word, the
    LONGEST vocab piece matching there (``##``-prefixed when pos > 0),
    or no row when nothing matches. One explode + one broadcast join +
    one max aggregate."""
    spark = words.sparkSession
    vdf = literal_df(spark, sorted(set(vocab)), "piece")
    w = words.select(F.col(word_col).alias("word")).distinct()
    cand = (
        w.select(
            "word",
            F.explode(
                F.sequence(F.lit(0), F.length("word") - 1)
            ).alias("pos"),
        )
        .select(
            "word",
            "pos",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len), F.length("word") - F.col("pos")
                    ),
                )
            ).alias("len"),
        )
        .select(
            "word",
            "pos",
            "len",
            F.concat(
                F.when(F.col("pos") > 0, F.lit("##")).otherwise(F.lit("")),
                F.expr("substring(word, pos + 1, len)"),
            ).alias("piece"),
        )
    )
    return (
        cand.join(F.broadcast(vdf), "piece")
        .groupBy("word", "pos")
        .agg(F.max("len").cast("int").alias("len"))
    )


def wordpiece_encode(
    words: DataFrame,
    vocab: list[str],
    max_piece_len: int = 12,
    max_word_len: int = 32,
    word_col: str = "word",
) -> DataFrame:
    """(word, encoded) — WordPiece greedy longest-match-first encoding
    of each distinct word against a program-literal ``vocab``;
    ``encoded`` is the space-joined piece sequence (``##`` marks
    continuations) or the single ``[UNK]`` when the word exceeds
    ``max_word_len`` or any cursor position has no matching piece.

    See the module docstring for the distributed shape; the loop is
    bounded by ``max_word_len`` rounds and raises RuntimeError rather
    than emitting a half-encoded word if it somehow fails to finish
    (it cannot on in-contract input — each round advances every live
    cursor by ≥ 1)."""
    if not vocab:
        raise ValueError("vocab must be non-empty")
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    w = words.select(F.col(word_col).alias("word")).distinct()
    long_words = w.where(
        (F.length("word") > max_word_len) | (F.length("word") == 0)
    ).select("word", F.lit(UNK).alias("encoded"))
    w = w.where(
        (F.length("word") <= max_word_len) & (F.length("word") > 0)
    )
    best = wordpiece_matches(w, vocab, max_piece_len).localCheckpoint(
        eager=True
    )
    state = w.select(
        "word",
        F.lit(0).cast("int").alias("pos"),
        F.lit("").alias("toks"),
        F.lit(False).alias("failed"),
    ).localCheckpoint(eager=True)
    done = state.where(F.lit(False))
    for _ in range(max_word_len):
        live = state.where(F.col("pos") < F.length("word"))
        finished = state.where(F.col("pos") >= F.length("word"))
        done = done.unionByName(finished)
        if live.isEmpty():
            out = done.select(
                "word",
                F.when(F.col("failed"), F.lit(UNK))
                .otherwise(F.col("toks"))
                .alias("encoded"),
            )
            return out.unionByName(long_words)
        piece = F.concat(
            F.when(F.col("pos") > 0, F.lit("##")).otherwise(F.lit("")),
            F.expr("substring(word, pos + 1, len)"),
        )
        state = (
            live.join(best, ["word", "pos"], "left")
            .select(
                "word",
                F.when(F.col("len").isNull(), F.length("word"))
                .otherwise(F.col("pos") + F.col("len"))
                .cast("int")
                .alias("pos"),
                F.when(F.col("len").isNull(), F.col("toks"))
                .otherwise(
                    F.concat(
                        F.col("toks"),
                        F.when(F.col("toks") == "", F.lit("")).otherwise(
                            F.lit(" ")
                        ),
                        piece,
                    )
                )
                .alias("toks"),
                (F.col("failed") | F.col("len").isNull()).alias("failed"),
            )
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"wordpiece walk did not finish within {max_word_len} rounds — "
        "cursor failed to advance (out-of-contract input)"
    )

"""Distributed BPE merge learning — the tokenizer-training step of an
LLM data pipeline, expressed as pure DataFrame ops.

Classic byte-pair encoding (Sennrich et al. 2016, ACL — public
algorithm) iterates: count adjacent symbol pairs over the word-frequency
table, merge the most frequent pair everywhere, repeat. The corpus-wide
pair count is a natural distributed aggregation; the subtle part is
applying a merge WITHOUT per-row Python. We hold each word as a
doubled-separator symbol string::

    "abc"  ->  "||a||b||c||"

With every symbol flanked by ``||`` on both sides, replacing the literal
``|A||B|`` with ``|AB|`` is EXACTLY greedy left-to-right pair merging:
the doubled separator leaves one ``|`` of shared context on each side,
so back-to-back occurrences (``a a a a`` under merge ``(a,a)``) still
match after the scan resumes past a replacement, and a symbol that
merely ends/starts with the pair text (``xa``, ``bx``) can never match
because its inner separators don't line up. Both Spark's ``replace`` and
DuckDB's ``replace`` are literal, non-overlapping, left-to-right — the
oracle replays bit-identically.

Scale shape per merge step: one explode of adjacent pairs + one hash
aggregation (map-side partial absorbs Zipf skew), a 1-row argmax
(``ORDER BY cnt DESC, a, b LIMIT 1`` — deterministic tiebreak), and one
broadcast (cross-join of that single row) replace over the word table.
State is one string column per word; iterations cache to pin lineage.
Cost is merges × (one agg + one map) over the DISTINCT-word table —
~10^6-row state even for a 10^12-doc corpus, since words dedupe first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "||"


def to_symbol_string(word_col):
    """``'abc' -> '||a||b||c||'`` (every char a symbol, doubled seps)."""
    return F.concat(F.lit(SEP), F.regexp_replace(word_col, "(.)", f"$1{SEP}"))


def pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.
    ``words`` must carry (freq, s) with ``s`` in doubled-sep form."""
    arr = F.filter(F.split("s", r"\|\|"), lambda x: x != "")
    n = F.size(arr)
    pairs = F.arrays_zip(
        F.slice(arr, 1, n - 1).alias("a"), F.slice(arr, 2, n - 1).alias("b")
    )
    return (
        words.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def apply_merge(words: DataFrame, best: DataFrame) -> DataFrame:
    """Merge the single (a, b) row of ``best`` in every word string:
    literal replace of ``|a||b|`` with ``|ab|`` (greedy left-to-right —
    see module docstring for why the doubled separator makes this
    exact). Declarative: the pair travels as a broadcast 1-row join, no
    driver round-trip."""
    return words.crossJoin(F.broadcast(best.select("a", "b"))).select(
        "word",
        "freq",
        F.replace(
            F.col("s"),
            F.concat(F.lit("|"), F.col("a"), F.lit(SEP), F.col("b"), F.lit("|")),
            F.concat(F.lit("|"), F.col("a"), F.col("b"), F.lit("|")),
        ).alias("s"),
    )


def learn_bpe_merges(word_freq: DataFrame, n_merges: int) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from a (word, freq)
    table; returns (step, sym_a, sym_b, pair_count) — the merge table a
    tokenizer would persist. Ties break on (count DESC, a ASC, b ASC).
    Words must not contain ``'|'`` (the separator); filter upstream.
    Stops early (fewer rows) if the corpus runs out of pairs."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    cur = word_freq.select("word", "freq", to_symbol_string(F.col("word")).alias("s"))
    spark = word_freq.sparkSession
    out = None
    for step in range(1, n_merges + 1):
        cur = cur.cache()
        best = (
            pair_counts(cur)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .cache()
        )
        row = best.collect()  # 1-row argmax; also materializes both caches
        if not row:
            break
        step_df = best.select(
            F.lit(step).cast("long").alias("step"),
            F.col("a").alias("sym_a"),
            F.col("b").alias("sym_b"),
            F.col("cnt").alias("pair_count"),
        )
        out = step_df if out is None else out.unionAll(step_df)
        cur = apply_merge(cur, best)
    if out is None:
        schema = "step long, sym_a string, sym_b string, pair_count long"
        return spark.createDataFrame([], schema)
    return out


def encode_words(word_freq: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply an ordered learned merge list to (word, freq); returns
    (word, freq, symbols array<string>) — the segmentation a tokenizer
    produces at inference time."""
    cur = word_freq.select("word", "freq", to_symbol_string(F.col("word")).alias("s"))
    for a, b in merges:
        if "|" in a or "|" in b:
            raise ValueError(f"merge symbols must not contain '|': {(a, b)}")
        cur = cur.select(
            "word",
            "freq",
            F.replace(
                F.col("s"), F.lit(f"|{a}{SEP}{b}|"), F.lit(f"|{a}{b}|")
            ).alias("s"),
        )
    arr = F.filter(F.split("s", r"\|\|"), lambda x: x != "")
    return cur.select("word", "freq", arr.alias("symbols"))


def fertility_stats(
    grouped_words: DataFrame, encoded: DataFrame, group_col: str = "lang"
) -> DataFrame:
    """Per-group TOKENIZER FERTILITY — the standard subword-vocab
    evaluation (how many pieces a word costs, how many chars a piece
    buys): ``(group, n_words, n_pieces, n_chars, fertility_e6,
    compression_e6)`` where fertility_e6 = 1e6·pieces/words and
    compression_e6 = 1e6·chars/pieces, both exact integer div.

    ``grouped_words`` is (group, word, freq) — per-group word counts;
    ``encoded`` is :func:`encode_words`' output (the GLOBAL distinct-
    word segmentation — encode once, join everywhere). A vocabulary
    that is fair on one language and 3× fertile on another starves the
    second of effective context length; this is the table that audit
    reads per language/source before a vocab ships.

    Scale shape: one broadcast-friendly equi-join on word (the distinct
    vocabulary, ≪ corpus) + one grouped aggregate with partial
    map-side combine; all arithmetic exact BIGINT."""
    seg = encoded.select(
        "word", F.size("symbols").cast("long").alias("_np")
    )
    j = grouped_words.join(seg, "word")
    return (
        j.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("freq") * F.col("_np")).cast("long").alias("n_pieces"),
            F.sum(F.col("freq") * F.length("word"))
            .cast("long")
            .alias("n_chars"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_words",
            "n_pieces",
            "n_chars",
            F.expr("n_pieces * 1000000 div n_words").alias("fertility_e6"),
            F.expr("n_chars * 1000000 div n_pieces").alias("compression_e6"),
        )
    )


def vocab_coverage(encoded: DataFrame, vocab_size: int) -> DataFrame:
    """OOV / coverage audit of a rank-truncated piece vocabulary — the
    check a tokenizer release runs before shipping a finite vocab: with
    only the top ``vocab_size`` pieces kept (by corpus frequency, piece
    asc tiebreak for bit-determinism), how many pieces of each word
    fall out of vocabulary? Complements :func:`fertility_stats` (cost
    per word) with coverage (which words break at all).

    Input: :func:`encode_words` output ``(word, freq, symbols)``.
    Output: ``(word, freq, n_symbols, n_unk, covered)``.

    Scale shape: the piece table aggregates the DISTINCT-word
    segmentation — vocab-sized (≤ chars + merges), orders of magnitude
    below the corpus — so the rank is a bounded single-partition
    window and the kept vocab broadcast-joins back onto the
    exploded segmentation. No corpus-scale shuffle anywhere.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    from pyspark.sql import Window as W

    pieces = encoded.select(F.explode("symbols").alias("piece"), "freq")
    ranked = pieces.groupBy("piece").agg(
        F.sum("freq").cast("long").alias("pfreq")
    )
    rn = F.row_number().over(
        W.orderBy(F.col("pfreq").desc(), F.col("piece").asc())
    )
    vocab = (
        ranked.select("piece", rn.alias("rank"))
        .where(F.col("rank") <= vocab_size)
        .select("piece", F.lit(1).alias("_inv"))
    )
    ex = encoded.select(
        "word",
        "freq",
        F.size("symbols").cast("long").alias("n_symbols"),
        F.explode("symbols").alias("piece"),
    )
    j = ex.join(F.broadcast(vocab), "piece", "left")
    out = j.groupBy("word", "freq", "n_symbols").agg(
        F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unk")
    )
    return out.select("*", (F.col("n_unk") == 0).alias("covered"))

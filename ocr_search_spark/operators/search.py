"""The search read path as Spark SQL (SURVEY.md §2.4 Q1-Q7, §3.2).

Reference flow (TermMatcher.class.js:25-53 + ApiHandler.const.js:19-46):
per search term a Mongo ``find`` plus one point lookup *per posting* (N+1),
then an in-memory merge keeping ``score = max(tf)`` per doc, a JS sort, and
a slice. Here the whole thing is one declarative plan:

    postings ⋈ broadcast(query_terms)      (semi-join on term)
      → groupBy(doc_id).agg(max(tf) as score)   (hash agg)
      → ⋈ docs on doc_id                    (metadata attach)
      → orderBy(score desc, doc_id asc).limit(k)  (TakeOrderedAndProject)

Scoring semantics pinned from the reference: score is the MAX tf over the
matched terms, not the sum (TermMatcher.class.js:40-51); ties broken by
doc_id ascending for determinism (the reference relies on stable JS sort —
SURVEY §7.0); default k=20 (AppConfig.const.js:22).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import literal_df
from .tokenize import term_freq_dict

DEFAULT_MAX_RETURN = 20  # AppConfig.const.js:22 NUM_SEARCH_RETURN

# Upper bound for operators whose contract is an eval-set-sized input
# driven through a deliberately unpartitioned window (rank_sum_test):
# past this, the single-partition sort silently becomes the job — the
# guard raises an actionable error instead.
_MAX_SINGLE_PARTITION_ROWS = 5_000_000


def match_terms(
    postings: DataFrame,
    terms: list[str],
    docs: DataFrame | None = None,
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Q2-Q5 for an already-tokenized term list."""
    spark = postings.sparkSession
    if not terms:
        # empty-after-tokenize edge case: no hits (reference: match([]) → [])
        terms = ["\uf0d8never-a-term"]
    terms_df = literal_df(spark, sorted(set(terms)), "term")
    scored = (
        postings.join(F.broadcast(terms_df), "term")
        .groupBy("doc_id")
        .agg(F.max("tf").alias("score"))
    )
    if docs is not None:
        scored = scored.join(docs, "doc_id")
        cols = ["ori_file_path", "page_idx", "img_path", "doc_id", "score"]
    else:
        cols = ["doc_id", "score"]
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .select(*cols)
        .limit(max_return)
    )


def anchor_boosted_postings(
    postings: DataFrame,
    anchors: DataFrame,
    doc_col: str = "doc_id",
    anchor_col: str = "anchor",
    weight: int = 3,
) -> DataFrame:
    """Fold incoming-anchor text into the inverted index: anchor phrases
    describing a TARGET document contribute ``weight × count`` to that
    document's term frequencies — the classic web-search signal for
    pages whose own text is thin (the reference only ever indexes a
    page's own rendered text, TermMatcher.class.js:25-53; a crawl corpus
    has the link graph to mine).

    ``anchors`` is (doc_col = target doc_id, anchor_col = phrase), e.g.
    urlnorm.extract_anchors output joined to a URL→doc catalog. Anchor
    text runs through the SAME tokenizer chain as document text
    (textproc.english_tokens_col — lowercase, strip, lemma, stopword
    filter), so boosted and content postings share one key space.

    Plan: explode + two hash aggregates riding one (term, doc_id)
    shuffle each — the anchor side is |links|, tiny next to the corpus,
    and the merge is a union + re-aggregate that AQE coalesces. No UDF,
    no driver round-trip."""
    from ..textproc import english_tokens_col

    toks = anchors.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(english_tokens_col(F.col(anchor_col))).alias("term"),
    )
    apost = toks.groupBy("term", "doc_id").agg(
        (F.count("*") * weight).cast("long").alias("tf")
    )
    return (
        postings.select("term", "doc_id", F.col("tf").cast("long").alias("tf"))
        .unionByName(apost)
        .groupBy("term", "doc_id")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )


def search(
    spark: SparkSession,
    postings: DataFrame,
    query: str,
    docs: DataFrame | None = None,
    max_return: int = DEFAULT_MAX_RETURN,
    history_sink=None,
) -> DataFrame:
    """Full Q0-Q6: tokenize the query with the document tokenizer (Q1),
    optionally log it (Q6/S9), match (Q2-Q5)."""
    if not isinstance(query, str):
        raise TypeError("searchTerm must be a string")  # Q0 validation
    if max_return < 1:
        raise ValueError("maxReturn must be a positive integer")
    tf_dict = term_freq_dict(query)
    if history_sink is not None:
        history_sink.log(tf_dict, query)
    # query-side tf is discarded: search terms are the distinct keys
    # (ApiHandler.const.js:33 Object.keys)
    return match_terms(postings, list(tf_dict.keys()), docs, max_return)


def match_terms_fuzzy(
    postings: DataFrame,
    terms: list[str],
    max_dist: int = 1,
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Typo-tolerant search: a query term also matches vocabulary terms
    within ``max_dist`` Levenshtein edits (the reference has no fuzzy
    mode at all — TermMatcher.class.js:25 is exact-match only).

    Scale shape: edit distance runs against the DISTINCT vocabulary
    (∝ unique terms, not postings), and the vocabulary×query pairing is
    pruned BEFORE the Levenshtein compare by the length prefilter
    (|len(term) − len(q)| ≤ max_dist, a necessary condition for edit
    distance ≤ max_dist) expressed as a join predicate, so only a thin
    length band of the vocabulary reaches the O(len²) compare. The
    classic shared-first-character prefilter is deliberately NOT used:
    it is unsound for edit distance ("spark"→"zpark" is one
    substitution yet differs in the first character) and would
    silently lose recall exactly on first-letter typos. Matched vocabulary
    terms then flow through the normal Q2-Q5 scoring path (max tf,
    doc_id tie-break)."""
    spark = postings.sparkSession
    if not terms:
        # no query terms -> no matches: return the empty result directly
        # instead of running a sentinel term through the vocabulary scan
        return (
            postings.groupBy("doc_id")
            .agg(F.max("tf").alias("score"))
            .limit(0)
        )
    terms_df = literal_df(spark, sorted(set(terms)), "q")
    vocab = postings.select("term").distinct()
    cand = (
        vocab.join(
            F.broadcast(terms_df),
            F.abs(F.length("term") - F.length("q")) <= max_dist,
        )
        .where(F.levenshtein(F.col("term"), F.col("q")) <= max_dist)
        .select("term")
        .distinct()
    )
    return (
        postings.join(F.broadcast(cand), "term")
        .groupBy("doc_id")
        .agg(F.max("tf").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
    )


def match_terms_bm25(
    postings: DataFrame,
    terms: list[str],
    max_return: int = DEFAULT_MAX_RETURN,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked search (tf saturation + doc-length normalization) —
    the standard upgrade over raw-tf and plain tf-idf, pinned for exact
    cross-engine replay:

        idf(t)  = ln((N − df + 0.5)/(df + 0.5) + 1)            (≥ 0)
        sat     = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        w       = floor(1e6 · idf · sat)                        (long)
        score   = Σ_t w                                          (exact)

    dl = Σtf per doc (one aggregate over the postings), avgdl = exact
    long sum / doc count. Every per-row float op is a deterministic
    function of exact integers, and the doc score is an exact long sum —
    no float-summation order sensitivity. Output (doc_id, score) with
    score in micros."""
    rows = _bm25_rows(postings, terms, k1, b)
    scored = rows.select("doc_id", "w").groupBy("doc_id").agg(
        F.sum("w").alias("score")
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
        .select("doc_id", "score")
    )


def _bm25_rows(
    postings: DataFrame,
    terms: list[str],
    k1: float,
    b: float,
    dl: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, term, w): the exact integer-micros per-(doc, term) BM25
    contribution — the shared core of match_terms_bm25 and the
    MaxScore-pruned variant. ``dl`` lets a multi-pass caller (PRF)
    share one materialized doc-length table instead of re-aggregating
    the full postings per pass."""
    spark = postings.sparkSession
    if not terms:
        terms = ["never-a-term"]
    terms_df = literal_df(spark, sorted(set(terms)), "term")
    if dl is None:
        dl = postings.groupBy("doc_id").agg(
            F.sum("tf").cast("long").alias("dl")
        )
    stats = dl.agg(
        F.count("*").cast("long").alias("_n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    matched = postings.join(F.broadcast(terms_df), "term")
    dfreq = matched.groupBy("term").agg(F.countDistinct("doc_id").alias("_df"))
    widf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            (F.col("_n").cast("double") - F.col("_df") + 0.5)
            / (F.col("_df").cast("double") + 0.5)
            + 1.0
        ).alias("idf"),
        "avgdl",
    )
    j = matched.join(F.broadcast(widf), "term").join(dl, "doc_id")
    tf = F.col("tf").cast("double")
    sat = (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    w = F.floor(F.lit(1_000_000.0) * F.col("idf") * sat).cast("long")
    return j.select("doc_id", "term", w.alias("w"))


def match_terms_maxscore(
    postings: DataFrame,
    terms: list[str],
    max_return: int = DEFAULT_MAX_RETURN,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """MaxScore-pruned BM25 top-k (Turtle & Flood 1995, public) — SAFE
    dynamic pruning: the result is bit-identical to match_terms_bm25
    (the gate's oracle is the full ranking), only the work changes.

    Two-phase, all exact long arithmetic:

      1. Floor θ = the ``max_return``-th largest per-doc MAX single-term
         contribution. Each of those k docs' final score ≥ its max w,
         so the true k-th best score ≥ θ.
      2. Term upper bounds ub(t) = max w over t's matched rows. Sort
         ascending; the NON-ESSENTIAL set P is the largest prefix with
         Σ ub < θ (strict). A doc matching only P terms scores ≤
         Σ ub(P) < θ ≤ k-th best — it can never enter the top-k, ties
         included. Candidates = docs matching ≥ 1 essential term; they
         are then scored on ALL their rows (exactness) and top-k'd.

    The driver holds θ (one long) and the |query|-sized UB list —
    bounded by the query, never by data. With fewer than ``max_return``
    docs matched, θ is undefined and pruning is skipped (P = ∅).

    At scale ub(t) comes from the impact-ordered index (the same stored
    per-term maxima champion_lists materializes), making phase 1 a
    k-row read; here both are computed exactly from the live rows. The
    matched rows are cached — they feed three passes (floor, UBs,
    final scoring), all bounded by the query's postings volume —
    via an eager localCheckpoint rather than cache(): same three-pass
    reuse, but the materialized blocks are released by the context
    cleaner once the query's result is dropped, instead of leaking a
    CacheManager entry per query until memory-pressure eviction.

    Known trade-offs of the eager localCheckpoint (deliberate): the
    lineage is truncated and the blocks are unreplicated, so losing an
    executor mid-query FAILS the query (retry at the serving layer)
    rather than recomputing; and materialization happens at
    plan-construction time, so this function is not lazy. Both are the
    right defaults for a serving path where queries are short and
    retried, and where an unbounded CacheManager leak is the worse
    failure mode; a batch caller that owns the result lifecycle and
    prefers recompute-on-loss can cache()+unpersist around it
    instead."""
    rows = _bm25_rows(postings, terms, k1, b).localCheckpoint(eager=True)
    champ = (
        rows.groupBy("doc_id")
        .agg(F.max("w").alias("_mw"))
        .orderBy(F.desc("_mw"), F.asc("doc_id"))
        .limit(max_return)
        .collect()
    )
    theta = champ[-1]["_mw"] if len(champ) >= max_return else None
    ubs = sorted(
        ((r["ub"], r["term"]) for r in
         rows.groupBy("term").agg(F.max("w").alias("ub")).collect()),
    )
    non_essential: set[str] = set()
    if theta is not None:
        acc = 0
        for ub, t in ubs:
            if acc + ub >= theta:
                break
            acc += ub
            non_essential.add(t)
    essential = [t for _, t in ubs if t not in non_essential]
    cand = (
        rows.where(F.col("term").isin(essential))
        .select("doc_id")
        .distinct()
    )
    scored = (
        rows.join(cand, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
        .select("doc_id", "score")
    )


def match_terms_qld(
    postings: DataFrame,
    terms: list[str],
    max_return: int = DEFAULT_MAX_RETURN,
    mu: int = 2000,
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty SIGIR'01) — the LANGUAGE-MODEL retrieval family, completing
    the classical trio next to the gated vector-space (tfidf) and
    probabilistic (bm25) rows. Zhai-Lafferty rank-equivalent
    decomposition, pinned exactly:

        score(d) = Σ_{t ∈ q ∩ d} ln(1 + tf·C / (μ·cf_t))
                   + |q| · ln(μ / (dl + μ))

    (the doc-independent Σ ln(cf_t/C) is dropped — rank-neutral). Both
    logs run on EXACT integer arguments in the repo-wide micro-nat
    contract — ``floor(1e6·(ln a − ln b))`` per matched row and per
    doc-length term — and the doc score is an exact long sum, so the
    ranking value-hashes across engines. ``mu`` is the Dirichlet
    pseudo-count (2000 = the Zhai-Lafferty sweet spot for short
    queries). Only docs matching ≥ 1 query term are scored (every
    no-match doc would otherwise rank by length alone — noise, and a
    full-corpus sort).

    Plan: corpus total + per-term cf are broadcast scalars/dims off
    the same postings lineage bm25 uses; one matched-rows aggregate +
    one dl join; TakeOrderedAndProject top-k."""
    spark = postings.sparkSession
    if not terms:
        terms = ["never-a-term"]
    uniq = sorted(set(terms))
    terms_df = literal_df(spark, uniq, "term")
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    corpus = postings.agg(F.sum("tf").cast("long").alias("_c"))
    matched = postings.join(F.broadcast(terms_df), "term")
    cf = matched.groupBy("term").agg(F.sum("tf").cast("long").alias("_cf"))
    j = (
        matched.join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(corpus))
    )
    w1 = F.floor(
        F.lit(1_000_000.0)
        * (
            F.log((F.lit(mu) * F.col("_cf") + F.col("tf") * F.col("_c")).cast("double"))
            - F.log((F.lit(mu) * F.col("_cf")).cast("double"))
        )
    ).cast("long")
    s1 = j.select("doc_id", w1.alias("_w")).groupBy("doc_id").agg(
        F.sum("_w").alias("_s1")
    )
    part2 = F.floor(
        F.lit(1_000_000.0)
        * (F.log(F.lit(float(mu))) - F.log((F.col("dl") + mu).cast("double")))
    ).cast("long")
    scored = s1.join(dl, "doc_id").select(
        "doc_id", (F.col("_s1") + F.lit(len(uniq)) * part2).alias("score_e6")
    )
    return (
        scored.orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(max_return)
        .select("doc_id", "score_e6")
    )


def match_terms_bm25_sharded(
    postings: DataFrame,
    terms: list[str],
    n_shards: int = 8,
    max_return: int = DEFAULT_MAX_RETURN,
    k1: float = 1.2,
    b: float = 0.75,
    shard_col: Column | None = None,
) -> DataFrame:
    """Document-SHARDED BM25 serving: (doc_id, score, shard) — the
    distributed-index topology every web-scale engine runs (one index
    shard per doc partition, shard-local top-k, k-way merge), expressed
    as one plan and provably identical to the single-index ranking.

    The two systems invariants this operator pins:

    * **Global statistics, broadcast — never per-shard.** idf's df/N
      and the avgdl length normalizer are corpus-level aggregates; a
      shard computing them locally ranks differently from its siblings
      and the merged list is garbage (the classic distributed-BM25
      bug). Here the weights come from :func:`_bm25_rows`, which
      aggregates over the WHOLE postings relation once and broadcasts —
      at cluster scale these are a few KB per term regardless of corpus
      size.
    * **Shard-local top-k is a cover of global top-k** under the total
      order (score desc, doc_id asc): if doc d is in the global top-k,
      fewer than k docs precede it globally, hence fewer than k within
      its own shard — so d survives its shard's cut. The merge
      therefore sees every global winner; ties are broken identically
      at both levels, making the result BIT-IDENTICAL to
      :func:`match_terms_bm25` (which is exactly what the gate's
      oracle checks).

    Plan shape: the per-shard cut is a rank window partitioned by
    shard (Spark's WindowGroupLimit pushes the ``rn <= k`` filter into
    the sort — no shard ever materializes more than k rows past the
    window), and the merge is a TakeOrderedAndProject over ≤ k·S rows.
    ``shard_col`` defaults to the first hex byte of the sha256 doc_id
    mod ``n_shards`` — uniform by construction, and replayable in any
    engine; pass a column to mirror a real deployment's router.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if shard_col is None:
        shard_col = (
            F.conv(F.substring("doc_id", 1, 2), 16, 10).cast("long") % n_shards
        )
    rows = _bm25_rows(postings, terms, k1, b)
    scored = rows.groupBy("doc_id").agg(F.sum("w").alias("score"))
    sharded = scored.select(
        "doc_id", "score", shard_col.cast("long").alias("shard")
    )
    win = Window.partitionBy("shard").orderBy(F.desc("score"), F.asc("doc_id"))
    local = (
        sharded.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") <= max_return)
        .drop("_rn")
    )
    return (
        local.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
        .select("doc_id", "score", "shard")
    )


def match_terms_bm25_blockmax(
    postings: DataFrame,
    terms: list[str],
    max_return: int = DEFAULT_MAX_RETURN,
    k1: float = 1.2,
    b: float = 0.75,
    n_blocks: int = 64,
    block_col: Column | None = None,
) -> DataFrame:
    """Block-max pruned BM25 top-k (the Block-Max WAND bound of Ding &
    Suel SIGIR'11, re-expressed set-oriented) — SAFE pruning at BLOCK
    grain where :func:`match_terms_maxscore` prunes at term grain:
    bit-identical results, less work when impact mass is locally
    concentrated.

    Docs are grouped into blocks (default: first hex byte of the
    sha256 doc_id mod ``n_blocks`` — any deterministic doc partition
    works, and a stored impact-ordered index would persist these
    maxima instead of computing them live; cf. the champion_lists
    note). Bound argument, all exact longs:

      1. θ = the ``max_return``-th largest per-doc MAX single-term w
         (the same champion floor maxscore uses): true k-th best score
         ≥ θ.
      2. ub(t, B) = max w over term t's rows in block B. For doc d in
         block B(d): score(d) = Σ_t w(t,d) ≤ Σ_t ub(t, B(d)) =: ub(d).
      3. Docs with ub(d) < θ are pruned BEFORE exact scoring — they
         can never enter the top-k (ties included: survivors keep
         ub ≥ θ, and exact scoring decides). With fewer than
         ``max_return`` matched docs θ is undefined and pruning is
         skipped.

    The block-bound table is |terms|·n_blocks rows — broadcast-sized
    for any query. Matched rows are materialized once via an eager
    localCheckpoint (they feed the floor, the bounds, and the final
    scoring); unlike cache(), the blocks are released by the context
    cleaner when the query's result is dropped instead of leaking a
    CacheManager entry per query."""
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    if block_col is None:
        block_col = (
            F.conv(F.substring("doc_id", 1, 2), 16, 10).cast("long") % n_blocks
        )
    rows = _bm25_rows(postings, terms, k1, b).withColumn(
        "_blk", block_col.cast("long")
    ).localCheckpoint(eager=True)
    champ = (
        rows.groupBy("doc_id")
        .agg(F.max("w").alias("_mw"))
        .orderBy(F.desc("_mw"), F.asc("doc_id"))
        .limit(max_return)
        .collect()
    )
    theta = champ[-1]["_mw"] if len(champ) >= max_return else None
    if theta is not None:
        ub = rows.groupBy("term", "_blk").agg(F.max("w").alias("_ub"))
        doc_ub = (
            rows.select("doc_id", "term", "_blk")
            .join(F.broadcast(ub), ["term", "_blk"])
            .groupBy("doc_id")
            .agg(F.sum("_ub").alias("_dub"))
        )
        cand = doc_ub.where(F.col("_dub") >= theta).select("doc_id")
        rows = rows.join(cand, "doc_id")
    scored = rows.groupBy("doc_id").agg(F.sum("w").alias("score"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
        .select("doc_id", "score")
    )


def match_terms_bm25_grid(
    postings: DataFrame,
    terms: list[str],
    grid: list[tuple[int, int]],
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """(k1_e3, b_e3, doc_id, score, rank) — BM25 rankings for EVERY
    (k1, b) parameter pair in one job: the hyperparameter sweep as
    DATA, not as N sequential runs. Tuning on a 100 TB index is
    shuffle-bound; this shares the matched-rows pass, the df/avgdl
    statistics and the dl join across the whole grid, so a 20-point
    sweep costs one scan + one (param, doc) aggregate instead of 20
    pipelines.

    Parameters come as e3 integers (k1_e3=1200, b_e3=750 is the
    default operating point) and the per-row weight uses exactly
    :func:`_bm25_rows`' pinned float recipe with k1 = k1_e3/1e3,
    b = b_e3/1e3 — so the grid row (1200, 750) is bit-identical to
    ``match_terms_bm25``'s ranking (tested). Per-param top-k via the
    rank window (WindowGroupLimit); ties by doc_id."""
    spark = postings.sparkSession
    if not grid:
        raise ValueError("grid must be non-empty")
    if not terms:
        terms = ["never-a-term"]
    terms_df = literal_df(spark, sorted(set(terms)), "term")
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("_n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    matched = postings.join(F.broadcast(terms_df), "term")
    dfreq = matched.groupBy("term").agg(F.countDistinct("doc_id").alias("_df"))
    widf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            (F.col("_n").cast("double") - F.col("_df") + 0.5)
            / (F.col("_df").cast("double") + 0.5)
            + 1.0
        ).alias("idf"),
        "avgdl",
    )
    pts = sorted(set((int(a), int(b)) for a, b in grid))
    # .limit(|grid|) is a no-op (exactly that many rows) that PROVES the
    # broadcast side bounded to the plan auditor (tools/plan_lint.py)
    gdf = spark.createDataFrame(pts, "k1_e3 long, b_e3 long").limit(len(pts))
    j = (
        matched.join(F.broadcast(widf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(gdf))
    )
    k1 = F.col("k1_e3").cast("double") / 1000.0
    bb = F.col("b_e3").cast("double") / 1000.0
    tf = F.col("tf").cast("double")
    sat = (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - bb + bb * F.col("dl").cast("double") / F.col("avgdl"))
    )
    w = F.floor(F.lit(1_000_000.0) * F.col("idf") * sat).cast("long")
    scored = (
        j.select("k1_e3", "b_e3", "doc_id", w.alias("_w"))
        .groupBy("k1_e3", "b_e3", "doc_id")
        .agg(F.sum("_w").alias("score"))
    )
    win = Window.partitionBy("k1_e3", "b_e3").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= max_return)
        .select("k1_e3", "b_e3", "doc_id", "score", "rank")
    )


def ltr_features(
    postings: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, bm25_e6, max_tf, sum_tf, n_terms, dl) — per-candidate
    LEARNING-TO-RANK feature assembly (the dataset generator behind
    every LambdaMART/linear reranker: Liu, F&T IR 2009): one row per
    doc matching ≥ 1 query term, carrying the classical feature set —
    the exact-integer BM25 total (:func:`_bm25_rows`' micros), raw
    max/sum term frequency (the reference's own Q3 scoring and its
    sum-variant), query coverage (how many distinct query terms hit),
    and document length. Downstream training joins labels on doc_id;
    more features (anchor boosts, pagerank, qld) are further columns
    off the same matched-rows lineage.

    Plan: the bm25 row relation already carries everything — one extra
    join back to raw matched tf and the dl relation, three hash
    aggregates total, no new shuffle keys."""
    spark = postings.sparkSession
    if not terms:
        terms = ["never-a-term"]
    terms_df = literal_df(spark, sorted(set(terms)), "term")
    dl = postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    matched = postings.join(F.broadcast(terms_df), "term")
    raw = matched.groupBy("doc_id").agg(
        F.max("tf").cast("long").alias("max_tf"),
        F.sum("tf").cast("long").alias("sum_tf"),
        F.countDistinct("term").cast("long").alias("n_terms"),
    )
    bm = _bm25_rows(postings, terms, k1, b).groupBy("doc_id").agg(
        F.sum("w").cast("long").alias("bm25_e6")
    )
    return (
        bm.join(raw, "doc_id")
        .join(dl, "doc_id")
        .select("doc_id", "bm25_e6", "max_tf", "sum_tf", "n_terms", "dl")
    )


def phrase_search(
    pos_postings: DataFrame,
    phrase_terms: list[str],
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Exact-phrase search over a positional index (term, doc_id, pos):
    docs where ``phrase_terms`` occur at consecutive positions, scored by
    occurrence count. k-term phrase = k−1 equi-joins on
    (doc_id, pos+offset) — each term's posting rows are filtered first so
    the joins touch only the phrase terms' lists, never the corpus. Empty
    phrase → empty result (no match-all surprise)."""
    spark = pos_postings.sparkSession
    if not phrase_terms:
        return spark.createDataFrame([], "doc_id string, n_matches long")
    cur = (
        pos_postings.where(F.col("term") == phrase_terms[0])
        .select("doc_id", F.col("pos").alias("p0"))
    )
    for k, t in enumerate(phrase_terms[1:], start=1):
        nxt = pos_postings.where(F.col("term") == t).select(
            "doc_id", (F.col("pos") - k).alias("p0")
        )
        cur = cur.join(nxt, ["doc_id", "p0"])
    return (
        cur.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_matches"))
        .orderBy(F.desc("n_matches"), F.asc("doc_id"))
        .limit(max_return)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Reciprocal-rank fusion of N independent rankers (hybrid retrieval).

    Each input is a (doc_id, rank) DataFrame with rank 1-based,
    deterministic (ties already broken), and at most one row per doc_id
    (a ranking, not a multiset — duplicates would double-count). The fused score is the classic
    RRF sum Σ_r 1/(k + rank_r) — pinned for exact cross-engine replay as
    integer micros via INTEGER division: ``1_000_000 div (k + rank)``,
    so per-doc scores are exact long sums with no float anywhere.
    Output: (doc_id, score, n_rankers, rank), top ``max_return`` by
    (score desc, doc_id asc).

    Scale shape: each ranker's output is already top-bounded (a ranked
    candidate page, not a corpus), so the union + hash aggregate is tiny
    regardless of corpus size; fusion adds no corpus-wide shuffle. The
    reference has single-signal scoring only (max tf —
    TermMatcher.class.js:40-51); rank fusion is the standard way to
    combine it with a dense retriever without score calibration.
    """
    from pyspark.sql import Window as W

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contribs = [
        r.select(
            "doc_id",
            F.expr(f"CAST(1000000 AS BIGINT) div (CAST({int(k)} AS BIGINT) + rank)").alias(
                "contrib"
            ),
        )
        for r in rankings
    ]
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    fused = allc.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"),
        F.count("*").cast("long").alias("n_rankers"),
    )
    w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= max_return)
        .select("doc_id", "score", "n_rankers", "rank")
    )


def champion_lists(postings: DataFrame, m: int = 50) -> DataFrame:
    """Impact-ordered index pruning: per term keep only the ``m``
    highest-impact postings (tf desc, doc_id asc tie-break) — the classic
    champion-list index (Manning/IIR §7.1.3). Built once at index time:
    one window over the postings partitioned by term, output size ≤
    |vocab|·m regardless of corpus size."""
    from pyspark.sql import Window as W

    w = W.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        postings.withColumn("_imp", F.row_number().over(w))
        .where(F.col("_imp") <= m)
        .drop("_imp")
    )


def match_terms_champion(
    postings: DataFrame,
    terms: list[str],
    m: int = 50,
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Two-phase pruned top-k retrieval: candidate docs come ONLY from
    the query terms' champion lists (≤ |q|·m postings touched instead of
    the full inverted lists), then candidates are exactly re-scored with
    the normal Q3 semantics (max tf over matched terms, doc_id asc
    tie-break) against the full postings of the query terms.

    Semantics pinned as the two-phase algorithm itself: with max-tf
    scoring and m ≥ max_return the pruned result equals the exhaustive
    top-k whenever per-term champion lists cover every doc whose max-tf
    would rank (each doc's score IS one term's tf, so the score-sorted
    prefix of some term's list contains it unless > m docs of that term
    tie above it); the gate's oracle replays the same two-phase
    definition, not the exhaustive scan, so the contract is exact either
    way. At 10^12 postings this is the difference between touching
    |q|·m rows and touching every posting of a stopword-frequency term.
    """
    spark = postings.sparkSession
    if not terms:
        terms = ["never-a-term"]
    terms_df = literal_df(spark, sorted(set(terms)), "term")
    matched = postings.join(F.broadcast(terms_df), "term")
    champs = champion_lists(matched, m=m)
    cands = champs.select("doc_id").distinct()
    rescored = (
        matched.join(cands, "doc_id")
        .groupBy("doc_id")
        .agg(F.max("tf").alias("score"))
    )
    return (
        rescored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
        .select("doc_id", "score")
    )


def proximity_search(
    pos_postings: DataFrame,
    terms: list[str],
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Proximity-ranked retrieval over the positional index: docs
    containing ALL query terms, scored by how tightly adjacent query
    terms co-occur —

        score = Σ over adjacent pairs (tᵢ, tᵢ₊₁):
                  1e6 DIV (1 + min |pos(tᵢ) − pos(tᵢ₊₁)|)

    exact integer micros (adjacent occurrences score 500_000 per pair,
    far-apart pairs decay harmonically). The BM25 family ranks bags of
    words; this is the positional complement (phrase_search's exact
    adjacency, relaxed to nearness) — together they bracket the
    standard lexical ranking stack.

    Plan: per-term filtered position lists joined doc-keyed per
    adjacent pair (cost ∝ matched positions, never the corpus — the
    per-doc pair join is tf(a)·tf(b), query-term lists only), one
    min-aggregate per pair, then an inner join chain over the
    candidate docs (docs holding all terms). Single-term queries
    degrade to match-count scoring. Duplicate adjacent terms are
    rejected (their min distance is trivially 0 — a phrase question,
    not a proximity one).
    """
    spark = pos_postings.sparkSession
    terms = list(terms)
    if not terms:
        return spark.createDataFrame([], "doc_id string, score long")
    if any(a == b for a, b in zip(terms, terms[1:])):
        raise ValueError("adjacent duplicate terms are not a proximity query")
    uniq = sorted(set(terms))
    tdf = literal_df(spark, sorted(uniq), "term")
    m = pos_postings.join(F.broadcast(tdf), "term")
    if len(terms) == 1:
        scored = m.groupBy("doc_id").agg(
            (F.count("*") * F.lit(1_000_000)).cast("long").alias("score")
        )
    else:
        cand = (
            m.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("_k"))
            .where(F.col("_k") == len(uniq))
            .select("doc_id")
        )
        scored = cand
        acc = None
        for i, (a, b) in enumerate(zip(terms, terms[1:])):
            pa = m.where(F.col("term") == a).select("doc_id", F.col("pos").alias("_pa"))
            pb = m.where(F.col("term") == b).select("doc_id", F.col("pos").alias("_pb"))
            d = (
                pa.join(pb, "doc_id")
                .groupBy("doc_id")
                .agg(F.min(F.abs(F.col("_pa") - F.col("_pb"))).alias("_d"))
                .select(
                    "doc_id",
                    F.expr("1000000 div (1 + _d)").cast("long").alias(f"_c{i}"),
                )
            )
            scored = scored.join(d, "doc_id")
            c = F.col(f"_c{i}")
            acc = c if acc is None else acc + c
        scored = scored.select("doc_id", acc.cast("long").alias("score"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
        .select("doc_id", "score")
    )


def snippet_search(
    pos_postings: DataFrame,
    doc_tokens: DataFrame,
    terms: list[str],
    width: int = 8,
    max_return: int = 10,
) -> DataFrame:
    """Keyword-in-context snippet generation: for each matching doc pick
    the best ``width``-token window over the indexed token sequence and
    render it. The reference serves whole page images as "context"
    (ApiHandler.const.js:36-46 returns page paths); this is the text-side
    analog a search UI needs when the corpus outgrows per-page PNGs.

    Window contract (pinned, cross-engine total order):
      * candidate windows START at a query-term hit position;
      * score = (#DISTINCT query terms in [s, s+width), #hits, earliest s)
        — lexicographic, so array_max resolves it without any sort;
      * docs ranked by (n_terms desc, n_hits desc, doc_id asc), top
        ``max_return``.

    Plan shape: postings ⋈ broadcast(terms) (semi-join — cost ∝ the query
    terms' posting lists, never the corpus), per-doc hit arrays bounded
    by Σ tf(query terms), window scoring entirely in array HOFs (zero
    extra shuffle), global TakeOrderedAndProject, and ONLY THEN the
    forward-index join (broadcast of max_return rows) to render text —
    at scale that is k point lookups against the doc_tokens store, not a
    corpus scan before the cut.
    """
    spark = pos_postings.sparkSession
    uniq = sorted(set(terms))
    empty_schema = (
        "doc_id string, start int, n_terms int, n_hits int, snippet string"
    )
    if not uniq:
        return spark.createDataFrame([], empty_schema)
    tdf = literal_df(spark, sorted(uniq), "term")
    hits = (
        pos_postings.join(F.broadcast(tdf), "term")
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("pos", "term")).alias("hs"))
    )
    in_win = lambda h: F.filter(  # noqa: E731
        F.col("hs"), lambda p: (p.pos >= h.pos) & (p.pos < h.pos + F.lit(width))
    )
    best = F.array_max(
        F.transform(
            F.col("hs"),
            lambda h: F.struct(
                F.size(F.array_distinct(F.transform(in_win(h), lambda p: p.term)))
                .alias("n_terms"),
                F.size(in_win(h)).alias("n_hits"),
                (-h.pos).alias("neg_start"),
            ),
        )
    )
    scored = hits.select(
        "doc_id", best.alias("b")
    ).select(
        "doc_id",
        (-F.col("b.neg_start")).cast("int").alias("start"),
        F.col("b.n_terms").alias("n_terms"),
        F.col("b.n_hits").alias("n_hits"),
    )
    top = (
        scored.orderBy(F.desc("n_terms"), F.desc("n_hits"), F.asc("doc_id"))
        .limit(max_return)
    )
    return (
        doc_tokens.join(F.broadcast(top), "doc_id")
        .select(
            "doc_id",
            "start",
            "n_terms",
            "n_hits",
            F.concat_ws(
                " ", F.slice(F.col("tokens"), F.col("start") + 1, width)
            ).alias("snippet"),
        )
        .orderBy(F.desc("n_terms"), F.desc("n_hits"), F.asc("doc_id"))
    )


# ------------------------------------------------------------ substring


def trigram_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "doc_text"
) -> DataFrame:
    """Character-trigram inverted index (tri, doc_id) over lower(text) —
    the pg_trgm / code-search structure that serves INFIX queries the
    term index cannot (a term index only finds whole tokens). Distinct
    trigrams per doc, pure columnar (one HOF + one explode)."""
    t = F.lower(F.col(text_col))
    tris = F.when(
        F.length(t) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - 2),
                lambda i: t.substr(i, F.lit(3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tris).alias("tri")
    )


def substring_search(
    index: DataFrame,
    docs: DataFrame,
    needle: str,
    id_col: str = "doc_id",
    text_col: str = "doc_text",
    max_return: int = DEFAULT_MAX_RETURN,
) -> DataFrame:
    """Exact substring (infix) search: candidate docs = those whose
    trigram posting lists contain EVERY trigram of the needle (a
    leftsemi chain over filtered lists — each filter pushes to the
    index scan), then the needle is verified with a real contains() on
    the candidates only; score = occurrence count via the replace
    trick, integer-exact. Result is IDENTICAL to a full-scan contains
    filter (the index only skips work — result-transparent), which is
    what the gate oracle checks.

    Needles shorter than 3 chars have no trigram to prune with and
    fall back to the verify scan (documented cost cliff, as in
    pg_trgm). Case-insensitive, like the tokenizer."""
    q = needle.lower()
    if not q:
        raise ValueError("substring needle must be non-empty")
    if "'" in q or "\\" in q:
        # the occurrence counter embeds the needle in a SQL literal
        raise ValueError("substring needle may not contain quotes/backslashes")
    tris = sorted({q[i : i + 3] for i in range(len(q) - 2)}) if len(q) >= 3 else []
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.lower(F.col(text_col)).alias("t")
    )
    if tris:
        cand = index.where(F.col("tri") == tris[0]).select("doc_id")
        for tq in tris[1:]:
            cand = cand.join(
                index.where(F.col("tri") == tq).select("doc_id"),
                "doc_id",
                "leftsemi",
            )
        base = base.join(cand, "doc_id", "leftsemi")
    hits = base.where(F.instr(F.col("t"), q) > 0)
    n = F.expr(
        f"CAST((length(t) - length(replace(t, '{q}', ''))) div {len(q)} AS BIGINT)"
    )
    return (
        hits.select("doc_id", n.alias("n_matches"))
        .orderBy(F.desc("n_matches"), F.asc("doc_id"))
        .limit(max_return)
    )


def prefix_search(
    postings: DataFrame,
    prefix: str,
    max_return: int = DEFAULT_MAX_RETURN,
    max_terms: int = 1000,
) -> DataFrame:
    """Wildcard term search (``val*``): expand the prefix against the
    term dictionary (one filtered DISTINCT over the index — on a sorted/
    bucketed postings table this is a range scan), then score matched
    docs with the pinned max-tf semantics over ALL expanded terms.
    Completes the query family: exact (search), boolean, phrase, fuzzy,
    substring — and raises when the expansion exceeds ``max_terms``
    (an unselective prefix like 'a*' expands to a scan-sized OR; the
    reference behavior for runaway queries is an explicit error, not a
    silent corpus scan)."""
    p = prefix.lower().rstrip("*")
    if not p:
        raise ValueError("prefix must be non-empty")
    matched = postings.where(F.col("term").startswith(p))
    n_terms = matched.select("term").distinct().count()
    if n_terms > max_terms:
        raise ValueError(
            f"prefix {prefix!r} expands to {n_terms} terms "
            f"(> max_terms={max_terms}) — refusing the scan-sized OR"
        )
    return (
        matched.groupBy("doc_id")
        .agg(F.max("tf").cast("long").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
    )

# ------------------------------------------------- ranked-run evaluation

def ranked_eval_metrics(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Graded-relevance evaluation of a ranked retrieval run: per-query
    nDCG@k, MRR, precision@k and recall, every metric an EXACT integer
    in micro-units (the cross-engine contract shared with the BM25
    weights: ``L(n) = floor(1e6·ln(n))`` over integers, then
    BIGINT sums and BIGINT ``div`` throughout — no double division
    anywhere, so Spark and a SQL oracle agree bit-for-bit).

    ``run`` is ``(query_id, doc_id, rank)`` (1-based, top-k per
    query); ``qrels`` is
    ``(query_id, doc_id, rel)`` with integer grades ≥ 0 (0 = judged
    irrelevant, the TREC convention). Pinned metric definitions:

    * gain ``2^rel − 1`` (Burges-style exponential gain);
    * discount ``G(r) = 10^12 div L(r+1)`` — the integer twin of
      ``1/ln(r+1)``; nDCG is discount-base-independent, so ln replaces
      the conventional log2;
    * ``dcg  = Σ_{hits} gain·G(rank)``;
      ``idcg = Σ_{ideal} gain·G(i)`` over the query's relevant grades
      sorted ``(rel DESC, doc_id ASC)``, capped at k;
    * ``ndcg_micro   = (1e6·dcg) div idcg`` (0 when no relevant doc);
      ``mrr_micro    = 1e6 div first_rel_rank`` (0 when no hit);
      ``p_at_k_micro = (1e6·hits) div k``;
      ``recall_micro = (1e6·hits) div n_rel``.

    Scale: the run is already top-k per query (|queries|·k rows) and
    qrels are a judged pool — both eval-set-bounded, never corpus-
    bounded. One (query_id, doc_id) join, one per-query window over the
    qrels pool, two per-query hash aggregates; the corpus itself never
    enters the plan.
    """
    from pyspark.sql import Window as W

    if k < 1:
        raise ValueError("k must be >= 1")

    gain = "(shiftleft(1L, cast(rel as int)) - 1L)"
    # G(r) = 10^12 div floor(1e6 * ln(r+1)) — all BIGINT
    def disc(rank_expr: str) -> str:
        return (
            "(1000000000000L div "
            f"cast(floor(1000000.0 * ln(cast(({rank_expr}) + 1 as double)))"
            " as bigint))"
        )

    rel = F.coalesce(F.col("rel"), F.lit(0)).cast("int")
    hits = (
        run.where(F.col("rank") <= k)
        .join(qrels, ["query_id", "doc_id"], "left")
        .select("query_id", "rank", rel.alias("rel"))
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(
            F.expr(f"if(rel > 0, {gain} * {disc('rank')}, 0L)")
        ).cast("long").alias("dcg_micro"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("_first"),
        F.sum((F.col("rel") > 0).cast("long")).alias("_hits"),
    )

    wq = W.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("doc_id"))
    ideal = (
        qrels.where(F.col("rel") > 0)
        .withColumn("_i", F.row_number().over(wq))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.expr(f"if(_i <= {int(k)}, {gain} * {disc('_i')}, 0L)")
            ).cast("long").alias("idcg_micro"),
            F.count("*").cast("long").alias("n_rel"),
        )
    )

    return (
        per_q.join(ideal, "query_id", "left")
        .select(
            "query_id",
            F.col("dcg_micro").cast("long").alias("dcg_micro"),
            F.coalesce(F.col("idcg_micro"), F.lit(0))
            .cast("long")
            .alias("idcg_micro"),
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
            F.col("_first"),
            F.col("_hits"),
        )
        .select(
            "query_id",
            "dcg_micro",
            "idcg_micro",
            F.expr(
                "if(idcg_micro > 0,"
                " (1000000L * dcg_micro) div idcg_micro, 0L)"
            ).cast("long").alias("ndcg_micro"),
            F.expr(
                "if(_first is not null, 1000000L div cast(_first as bigint),"
                " 0L)"
            ).cast("long").alias("mrr_micro"),
            F.expr(f"(1000000L * _hits) div {int(k)}L")
            .cast("long")
            .alias("p_at_k_micro"),
            F.expr(
                "if(n_rel > 0, (1000000L * _hits) div n_rel, 0L)"
            ).cast("long").alias("recall_micro"),
            "n_rel",
        )
    )


def hard_negative_triplets(
    run: DataFrame,
    qrels: DataFrame,
    negs_per_pos: int = 2,
) -> DataFrame:
    """Contrastive training triplets ``(query_id, pos_doc, neg_doc,
    neg_rank)`` mined from a ranked retrieval run — the standard
    hard-negative recipe (DPR / sentence-transformers practice): a
    NEGATIVE is a document the retriever itself ranked highly but the
    judgments mark non-relevant, which is exactly the example a
    reranker/bi-encoder learns the most from (random negatives are
    trivially separable).

    ``run`` is ``(query_id, doc_id, rank)`` (1-based, top-k per query);
    ``qrels`` is ``(query_id, doc_id, rel)``. Pinned rule:

    * positives: the query's judged ``rel > 0`` docs;
    * hard negatives: run docs with ``rel = 0`` — judged-irrelevant OR
      unjudged (the run is the retriever's belief; the TREC convention
      treats unjudged as non-relevant) — kept in rank order, the top
      ``negs_per_pos`` PER POSITIVE assigned round-robin by rank so
      every positive receives distinct negatives:
      positive #p (ordered rel DESC, doc_id ASC) takes negatives at
      ``neg_seq mod n_pos == p`` — a pure function of (run, qrels).

    Scale: both inputs are eval-set-bounded (|queries|·k and the judged
    pool); one join + two per-query windows + one equi-join on the
    round-robin key. The corpus never enters the plan.
    """
    from pyspark.sql import Window as W

    if negs_per_pos < 1:
        raise ValueError(f"negs_per_pos must be >= 1, got {negs_per_pos}")

    pos = qrels.where(F.col("rel") > 0).select(
        "query_id", F.col("doc_id").alias("pos_doc"), "rel"
    )
    wp = W.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("pos_doc"))
    pos = pos.withColumn("_p", F.row_number().over(wp) - 1)
    n_pos = pos.groupBy("query_id").agg(F.count("*").alias("_np"))

    rel0 = F.coalesce(F.col("rel"), F.lit(0))
    negs = (
        run.join(qrels, ["query_id", "doc_id"], "left")
        .where(rel0 == 0)
        .select("query_id", F.col("doc_id").alias("neg_doc"), "rank")
    )
    wn = W.partitionBy("query_id").orderBy(F.asc("rank"), F.asc("neg_doc"))
    negs = negs.withColumn("_seq", F.row_number().over(wn) - 1)

    return (
        negs.join(n_pos, "query_id")
        .where(F.col("_seq") < F.col("_np") * F.lit(int(negs_per_pos)))
        .withColumn("_p", F.col("_seq") % F.col("_np"))
        .join(pos, ["query_id", "_p"])
        .select(
            "query_id",
            "pos_doc",
            "neg_doc",
            F.col("rank").cast("int").alias("neg_rank"),
        )
    )


# ------------------------------------------------- field-weighted BM25F


def match_terms_bm25f(
    field_postings: DataFrame,
    terms: list[str],
    fields: list[tuple[str, float, float]],
    max_return: int = DEFAULT_MAX_RETURN,
    k1: float = 1.2,
) -> DataFrame:
    """(doc_id, score) — BM25F ranked search over FIELDED postings
    (doc_id, field, term, tf): Robertson & Zaragoza's "Simple BM25
    extension to multiple weighted fields" (CIKM'04) — the structure
    signal plain BM25 throws away (a hit in the title outweighs the
    same hit in the body, which is exactly how web search uses the
    title/anchor/body split this engine's html_metadata +
    anchor_texts extraction produces).

    ``fields``: program-literal (field, weight, b_f) triples —
    per-field boost and per-field length normalization. Pinned math,
    every float op a deterministic function of exact integers so a SQL
    twin replays bit-for-bit:

        len_f(d)  = Σ tf over (d, f);  avglen_f over docs HAVING f
        B_f(d)    = 1 − b_f + b_f · len_f(d)/avglen_f
        tf~(t,d)  = Σ_f  w_f · tf_{t,f,d} / B_f(d)
        idf(t)    = ln((N − df + 0.5)/(df + 0.5) + 1)    (N, df doc-level,
                                                          field-blind)
        score     = Σ_t floor(1e6 · idf · tf~/(k1 + tf~))  (exact long)

    Weighting happens INSIDE the saturation (the one property naive
    per-field BM25 summation lacks: two weak field hits of one term
    saturate together rather than double-counting idf). The field fold
    Σ_f is PIVOTED into per-field columns and written as a fixed
    left-to-right addition in ``fields`` order — a float sum over a
    grouped field COLUMN would add in partition order and flip ulps
    across runs; the pivoted fold is bit-deterministic at any
    parallelism, and |fields| is a program literal so the width is
    bounded by construction.

    Scale shape: one (doc_id)-keyed conditional-aggregate pivot for
    field lengths, a |fields|-row scalar aggregate for avglen
    (broadcast as one row), query terms as a broadcast literal frame
    (plan-lint's provably-bounded case), one (doc_id, term) hash agg,
    TakeOrderedAndProject top-k. No corpus-sized broadcast, no
    self-join.
    """
    if not fields:
        raise ValueError("fields must be non-empty")
    names = [f for f, _, _ in fields]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate field names in {names}")
    for f, w, fb in fields:
        if w <= 0:
            raise ValueError(f"field {f!r}: weight must be > 0, got {w}")
        if not 0.0 <= fb <= 1.0:
            raise ValueError(f"field {f!r}: b must be in [0, 1], got {fb}")
    if k1 <= 0:
        raise ValueError(f"k1 must be > 0, got {k1}")
    spark = field_postings.sparkSession
    if not terms:
        terms = ["never-a-term"]
    terms_df = literal_df(spark, sorted(set(terms)), "term")

    fp = field_postings.where(F.col("field").isin(names))
    # (doc_id, len_<f> ...) — conditional-agg pivot, one doc-keyed agg
    flen = fp.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("field") == f, F.col("tf")))
            .cast("long")
            .alias(f"_len_{i}")
            for i, f in enumerate(names)
        ]
    )
    # one row: avglen per field + doc count N (docs having ANY field)
    stats = flen.agg(
        F.count("*").cast("long").alias("_n"),
        *[
            (
                F.sum(f"_len_{i}").cast("double")
                / F.count(f"_len_{i}").cast("double")
            ).alias(f"_avg_{i}")
            for i in range(len(names))
        ],
    )

    matched = fp.join(F.broadcast(terms_df), "term")
    dfreq = matched.groupBy("term").agg(
        F.countDistinct("doc_id").alias("_df")
    )
    widf = dfreq.crossJoin(F.broadcast(stats.select("_n"))).select(
        "term",
        F.log(
            (F.col("_n").cast("double") - F.col("_df") + 0.5)
            / (F.col("_df").cast("double") + 0.5)
            + 1.0
        ).alias("idf"),
    )

    # (doc_id, term, tf_<f> ...) — second conditional-agg pivot
    tfw = matched.groupBy("doc_id", "term").agg(
        *[
            F.sum(F.when(F.col("field") == f, F.col("tf")))
            .cast("long")
            .alias(f"_tf_{i}")
            for i, f in enumerate(names)
        ]
    )
    joined = tfw.join(flen, "doc_id").crossJoin(
        F.broadcast(stats.drop("_n"))
    )
    # fixed left-to-right field fold — bit-deterministic
    tft = F.lit(0.0)
    for i, (f, w_f, b_f) in enumerate(fields):
        c = (
            F.lit(float(w_f))
            * F.col(f"_tf_{i}").cast("double")
            / (
                F.lit(1.0 - float(b_f))
                + F.lit(float(b_f))
                * F.col(f"_len_{i}").cast("double")
                / F.col(f"_avg_{i}")
            )
        )
        tft = tft + F.when(F.col(f"_tf_{i}").isNull(), F.lit(0.0)).otherwise(c)
    joined = joined.select("doc_id", "term", tft.alias("_tft"))
    w = F.floor(
        F.lit(1_000_000.0)
        * F.col("idf")
        * F.col("_tft")
        / (F.lit(float(k1)) + F.col("_tft"))
    ).cast("long")
    scored = (
        joined.join(F.broadcast(widf), "term")
        .select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
        .select("doc_id", "score")
    )


# ------------------------------------------- pseudo-relevance feedback


def match_terms_prf(
    postings: DataFrame,
    terms: list[str],
    fb_docs: int = 5,
    fb_terms: int = 3,
    max_return: int = DEFAULT_MAX_RETURN,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, score) — BM25 with PSEUDO-RELEVANCE FEEDBACK (Rocchio
    1971 / the RM-style two-pass): run the query, assume the top
    ``fb_docs`` results are relevant, mine their most discriminative
    terms, and rescore with the expanded query. The classic recall
    lever when queries are short and the corpus vocabulary is wider
    than the user's — and, unlike a correlation thesaurus, it adapts to
    THIS query's result neighborhood.

    Pinned two-pass contract (every step exact or pinned-float so a
    SQL twin replays bit-for-bit):

    1. first pass = :func:`match_terms_bm25` (same k1/b), top
       ``fb_docs`` by (score DESC, doc_id ASC);
    2. expansion candidates = terms of the feedback docs, minus the
       original terms, minus corpus-half stopwords (``2·df > N``
       drops them — the noise guard); candidate weight =
       Σ_fb tf · floor(1e6·ln(N/df)); top ``fb_terms`` by
       (weight DESC, term ASC);
    3. second pass: per-(doc, term) BM25 micro-weights over
       original ∪ expansion terms; expansion contributions count HALF
       (``w div 2`` — integer floor AFTER the BM25 floor, the pinned
       Rocchio β=0.5); score = exact long sum; top ``max_return`` by
       (score DESC, doc_id ASC).

    Scale shape — the full postings is touched exactly TWICE, and the
    driver holds nothing (zero collects):

    * one doc-length aggregation (``dl``, eagerly checkpointed — in
      production this is the stored doc-stats side table) shared by
      both passes' saturation terms;
    * one broadcast semi-join pulling the posting lists of the
      feedback docs' vocabulary (``fbv_post``, eagerly checkpointed —
      bounded by Σ df over the feedback vocabulary; the broadcast
      vocabulary itself is ≤ fb_docs · max-doc-vocab — bounded by the
      program-literal fb_docs and the extraction pipeline's mega-doc
      split, never by the corpus). Candidate df,
      candidate Rocchio weights AND the pass-2 expansion rows are all
      served from this one materialization, and the fb_terms winners
      flow into pass 2 as a broadcast of the LIMIT plan itself — the
      expansion term list never lands on the driver.

    The original terms' per-(doc, term) micro-weights are computed
    ONCE (eager localCheckpoint) and reused by both passes — idf and
    saturation depend only on the term and the corpus, never on the
    query's term set, so pass 2 only scores the expansion terms and
    unions; the result is bit-identical to rebuilding the joint term
    frame at a fraction of the cost. Both passes end in
    TakeOrderedAndProject.
    """
    if fb_docs < 1:
        raise ValueError(f"fb_docs must be >= 1, got {fb_docs}")
    if fb_terms < 0:
        raise ValueError(f"fb_terms must be >= 0, got {fb_terms}")
    spark = postings.sparkSession
    if not terms:
        terms = ["never-a-term"]
    orig = sorted(set(terms))

    dl = (
        postings.groupBy("doc_id")
        .agg(F.sum("tf").cast("long").alias("dl"))
        .localCheckpoint(eager=True)
    )
    stats = dl.agg(
        F.count("*").cast("long").alias("_n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    n_docs = stats.select("_n")

    rows1 = _bm25_rows(postings, orig, k1, b, dl=dl).localCheckpoint(
        eager=True
    )
    first = (
        rows1.groupBy("doc_id")
        .agg(F.sum("w").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(fb_docs)
    )
    fbids = first.select("doc_id")

    # ONE pull of the feedback vocabulary's posting lists; df, Rocchio
    # candidate weights and pass-2 expansion rows all read this frame
    fb_vocab = (
        postings.join(F.broadcast(fbids), "doc_id").select("term").distinct()
    )
    fbv_post = postings.join(
        F.broadcast(fb_vocab), "term"
    ).localCheckpoint(eager=True)
    dfreq_fb = fbv_post.groupBy("term").agg(
        F.countDistinct("doc_id").alias("_df")
    )
    cand = (
        fbv_post.join(F.broadcast(fbids), "doc_id")
        .join(dfreq_fb, "term")
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("_df") * 2 <= F.col("_n"))
        .where(~F.col("term").isin(*orig))
        .select(
            "term",
            (
                F.col("tf").cast("long")
                * F.floor(
                    F.lit(1_000_000.0)
                    * F.log(
                        F.col("_n").cast("double") / F.col("_df").cast("double")
                    )
                ).cast("long")
            ).alias("_wc"),
        )
        .groupBy("term")
        .agg(F.sum("_wc").alias("_fbw"))
        .orderBy(F.desc("_fbw"), F.asc("term"))
        .limit(fb_terms)
    )

    # pass 2: expansion rows = fbv_post restricted to the fb_terms
    # winners (broadcast of the LIMIT plan — no driver round-trip),
    # weighted with exactly _bm25_rows' pinned recipe off the shared
    # dl/stats; expansion contributions count HALF (pinned Rocchio
    # β=0.5): integer floor AFTER the BM25 floor
    widf2 = (
        cand.select("term")
        .join(dfreq_fb, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                (F.col("_n").cast("double") - F.col("_df") + 0.5)
                / (F.col("_df").cast("double") + 0.5)
                + 1.0
            ).alias("idf"),
            "avgdl",
        )
    )
    tf = F.col("tf").cast("double")
    sat = (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    w2 = F.floor(F.lit(1_000_000.0) * F.col("idf") * sat).cast("long")
    exp_rows = (
        fbv_post.join(F.broadcast(widf2), "term")
        .join(dl, "doc_id")
        .select("doc_id", w2.alias("w"))
    )
    pass2 = rows1.select("doc_id", F.col("w").alias("_ws")).unionByName(
        exp_rows.select("doc_id", F.expr("w div 2").alias("_ws"))
    )
    scored = pass2.groupBy("doc_id").agg(F.sum("_ws").alias("score"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max_return)
        .select("doc_id", "score")
    )


# ------------------------------------------------- paired sign test


def kendall_tau(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "doc",
    rank_col: str = "rank",
) -> DataFrame:
    """(query_id, n, n_concordant, n_discordant, tau_e6) — KENDALL's
    tau-a between two systems' rankings per query (Kendall 1938): the
    ORDER-sensitive comparison the overlap metrics (matryoshka,
    ann_recall) cannot see — two rankers can return identical top-k
    sets in opposite orders. Computed over the INTERSECTION of the two
    lists (docs one system missed carry no order information between
    the systems; the set difference is overlap's job); queries with
    fewer than 2 common docs are dropped (no pair, no tau).

    tau_e6 = (nc − nd)·1e6 div (n(n−1) div 2), exact (ranks within a
    system are distinct so tau-a applies — no tie correction needed).
    Pairs are C(n,2) per query with n ≤ k — bounded by the result-list
    depth, never by the corpus; one (query, doc) join + one bounded
    self-join."""
    a = ranked_a.select(
        F.col(query_col).alias("q"),
        F.col(doc_col).alias("d"),
        F.col(rank_col).alias("ra"),
    )
    b = ranked_b.select(
        F.col(query_col).alias("q"),
        F.col(doc_col).alias("d"),
        F.col(rank_col).alias("rb"),
    )
    both = a.join(b, ["q", "d"])
    p1, p2 = both.alias("p1"), both.alias("p2")
    pairs = p1.join(
        p2,
        (F.col("p1.q") == F.col("p2.q")) & (F.col("p1.d") < F.col("p2.d")),
    ).select(
        F.col("p1.q").alias("q"),
        (
            (F.col("p1.ra") - F.col("p2.ra"))
            * (F.col("p1.rb") - F.col("p2.rb"))
            > 0
        ).alias("_conc"),
    )
    return (
        pairs.groupBy("q")
        .agg(
            F.sum(F.when(F.col("_conc"), 1).otherwise(0))
            .cast("long")
            .alias("n_concordant"),
            F.sum(F.when(F.col("_conc"), 0).otherwise(1))
            .cast("long")
            .alias("n_discordant"),
        )
        .join(
            both.groupBy("q").agg(F.count("*").cast("long").alias("n")), "q"
        )
        .where(F.col("n") >= 2)
        .select(
            F.col("q").alias(query_col),
            "n",
            "n_concordant",
            "n_discordant",
            F.expr(
                "(n_concordant - n_discordant) * 1000000 div ((n * (n - 1)) div 2)"
            ).alias("tau_e6"),
        )
    )


def rank_sum_test(
    sample_a: DataFrame,
    sample_b: DataFrame,
    value_col: str = "v",
) -> DataFrame:
    """One row: (n1, n2, u1_x2, u2_x2, tie_term, z_e6) — the
    MANN-WHITNEY U / Wilcoxon rank-sum test (Mann & Whitney 1947), the
    UNPAIRED companion to the gated paired ``sign_test``: compare two
    systems' per-query metric samples when the query sets differ (new
    eval shard, A/B buckets), where pairing is impossible.

    Integer-exact construction: values are ranked jointly with
    DOUBLED midranks (rank2(v) = 2·|{x < v}| + t_v + 1 — an integer
    even under ties), R1_x2 = Σ_A rank2, U1_x2 = R1_x2 − n1(n1+1),
    U2_x2 = 2n1n2 − U1_x2. The normal approximation with tie
    correction rides the exact integers:

        z_e6 = floor(1e6 · (U1_x2 − n1n2) /
                     (2·sqrt(n1n2·(n(n−1)(n+1) − T) / (12n(n−1)))))

    with T = Σ(t³−t) over tied groups (= the ``tie_term`` column) —
    numerator and radicand arguments exact BIGINTs, the sqrt/division
    chain deterministic IEEE (the repo's float contract). |z| ≳ 1.96e6
    rejects at 5%. Plan: one distinct-VALUE aggregate + one window
    over values (≪ samples) + broadcast scalars; input sizes are eval
    sets, not corpora."""
    a = sample_a.select(F.col(value_col).alias("v"), F.lit(1).alias("_a"))
    b = sample_b.select(F.col(value_col).alias("v"), F.lit(0).alias("_a"))
    u = a.unionByName(b)
    per_v = u.groupBy("v").agg(
        F.count("*").cast("long").alias("_t"),
        F.sum("_a").cast("long").alias("_na"),
    )
    from pyspark.sql import Window as W

    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    # loud scale guard: the running-sum window above is deliberately
    # UNPARTITIONED (midranks need a global value order) under the
    # documented eval-set-sized contract — when that contract is
    # violated, raise an actionable error in-plan (the count rides the
    # same single-partition exchange; no extra action) instead of
    # silently single-partition-sorting a corpus
    guard = (
        f"if(_gn > {_MAX_SINGLE_PARTITION_ROWS}, cast(raise_error(concat("
        f"'rank_sum_test: ', _gn, ' distinct metric values exceed the "
        f"documented eval-set bound {_MAX_SINGLE_PARTITION_ROWS}; sample "
        f"the eval set first')) as bigint), _less0)"
    )
    ranked = (
        per_v.withColumn("_gn", F.count("*").over(W.partitionBy()))
        .withColumn("_less0", F.coalesce(F.sum("_t").over(w), F.lit(0)))
        .withColumn("_less", F.expr(guard))
        .withColumn("_rank2", 2 * F.col("_less") + F.col("_t") + 1)
    )
    agg = ranked.agg(
        F.sum("_na").cast("long").alias("n1"),
        F.sum(F.col("_t") - F.col("_na")).cast("long").alias("n2"),
        F.sum(F.col("_na") * F.col("_rank2")).cast("long").alias("_r1x2"),
        F.sum(
            F.when(
                F.col("_t") > 1,
                F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("tie_term"),
    )
    # the radicand factors stay exact in int64 separately but their
    # PRODUCT overflows it — so each FACTOR is cast to double before
    # the multiply (left-to-right, IEEE-deterministic; bit-identical to
    # the old int64-product path whenever that product fits 2^53, i.e.
    # n1+n2 ≲ 94k, and well-defined instead of an ANSI overflow beyond)
    z = (
        "floor(1000000.0 * cast(u1_x2 - n1 * n2 as double) / "
        "(2.0 * sqrt(cast(n1 * n2 as double) * "
        "(cast(n1 + n2 as double) * cast(n1 + n2 - 1 as double) * "
        "cast(n1 + n2 + 1 as double) - cast(tie_term as double))"
        " / cast(12 * (n1 + n2) * (n1 + n2 - 1) as double))))"
    )
    return (
        agg.select(
            "n1",
            "n2",
            (F.col("_r1x2") - F.col("n1") * (F.col("n1") + 1)).alias("u1_x2"),
            "tie_term",
        )
        .select(
            "n1",
            "n2",
            "u1_x2",
            (2 * F.col("n1") * F.col("n2") - F.col("u1_x2")).alias("u2_x2"),
            "tie_term",
            F.expr(z).cast("long").alias("z_e6"),
        )
    )


def sign_test(
    metrics_a: DataFrame,
    metrics_b: DataFrame,
    id_col: str = "query_id",
    metric_col: str = "metric",
) -> DataFrame:
    """One row: (n_queries, ties, wins_a, wins_b, n, p_e6, overflow) —
    the EXACT two-sided paired sign test between two ranked runs'
    per-query metrics (the standard "is ranker B actually better"
    gate of IR evaluation — Smucker, Allan & Carterette CIKM'07 rank
    the sign test among the safe choices; it assumes nothing about
    the metric's distribution, only the per-query comparisons):

        n = wins_a + wins_b            (ties drop, the classic rule)
        w = max(wins_a, wins_b)
        p = min(1, 2 · P[X ≥ w]),  X ~ Binomial(n, 1/2)

    The binomial tail is computed EXACTLY in 64-bit integers via the
    in-plan multiplicative recurrence C(n,k+1) = C(n,k)·(n−k) div
    (k+1) (each division exact), folded over a bounded sequence —
    valid for n ≤ 60 where every intermediate fits a signed long
    (C(60,30)·31 < 2⁶³); only the final scale to e6 runs through one
    DECIMAL(38,0) expression. For n > 60 the row reports
    ``overflow = true`` and a NULL ``p_e6`` instead of silently
    rounding through floats — the pinned contract is "exact or
    absent" (sample the query set, or use the normal approximation
    offline, when an eval set exceeds 60 effective queries).

    Scale shape: one equi-join on the query id + one scalar
    aggregate; the binomial fold is a ≤60-step in-row expression.
    Input metrics should be exact integers (micro-units — e.g.
    ranked_eval_metrics' ndcg_e6), which is what makes win/tie
    decisions replayable.
    """
    a = metrics_a.select(
        F.col(id_col).alias("qid"), F.col(metric_col).alias("ma")
    )
    b = metrics_b.select(
        F.col(id_col).alias("qid"), F.col(metric_col).alias("mb")
    )
    j = a.join(b, "qid")
    stats = j.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum((F.col("ma") == F.col("mb")).cast("long")).alias("ties"),
        F.sum((F.col("ma") > F.col("mb")).cast("long")).alias("wins_a"),
        F.sum((F.col("ma") < F.col("mb")).cast("long")).alias("wins_b"),
    ).select(
        "*",
        (F.col("wins_a") + F.col("wins_b")).cast("long").alias("n"),
        F.greatest("wins_a", "wins_b").cast("long").alias("_w"),
    )
    # S_lower = sum_{k=0}^{w-1} C(n,k): k=0 contributes 1; fold the
    # exact recurrence over k=1..w-1 carrying (C(n,k), running sum);
    # written as a SQL expr so `div` stays exact integral division
    slower = F.when(F.col("_w") >= 2, F.expr(
        "aggregate(sequence(cast(1 as bigint), _w - 1), "
        "named_struct('c', cast(1 as bigint), 's', cast(1 as bigint)), "
        "(acc, k) -> named_struct("
        "'c', (acc.c * (n - k + 1)) div k, "
        "'s', acc.s + (acc.c * (n - k + 1)) div k), "
        "acc -> acc.s)"
    )).otherwise(
        F.when(F.col("_w") == 1, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    )
    out = stats.select(
        "n_queries",
        "ties",
        "wins_a",
        "wins_b",
        "n",
        (F.col("n") > 60).alias("overflow"),
        F.when((F.col("n") > 0) & (F.col("n") <= 60), slower)
        .otherwise(F.lit(None))
        .alias("_sl"),
    )
    p = F.expr(
        "least(cast(1000000 as bigint), cast("
        "cast(2000000 as decimal(38,0)) * "
        "cast(shiftleft(cast(1 as bigint), cast(n as int)) - _sl as decimal(38,0)) "
        "div cast(shiftleft(cast(1 as bigint), cast(n as int)) as decimal(38,0)) "
        "as bigint))"
    )
    return out.select(
        "n_queries",
        "ties",
        "wins_a",
        "wins_b",
        "n",
        F.when(
            (F.col("n") > 0) & (~F.col("overflow")), p
        ).alias("p_e6"),
        "overflow",
    )

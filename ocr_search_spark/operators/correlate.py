"""Term-correlation refresh as a set-oriented self-join (SURVEY §2.3 I8/I9).

The reference computes pairwise cosine similarity of term posting vectors
with an O(n·m) linear scan per pair and an O(terms²) outer loop
(``/root/reference/src/DbInterface/DbInterface.class.js:433-469``, driven
from ``:163-180``) — so expensive it is *disabled* at both call sites
(``:149-151``, ``TermMatcher.class.js:55-80``). Set-oriented, the same
computation is one self-join aggregate over the postings table:

    dot(t1,t2)   = Σ_doc tf₁·tf₂          (postings ⋈ postings on doc_id)
    ‖t‖          = sqrt(Σ_doc tf²)        (one aggregate, broadcast back)
    tcr(t1,t2)   = dot / (‖t1‖·‖t2‖)      (with the reference's `|| 1`
                                           zero-norm guard, :461-462)

Scale notes: the join key is doc_id, so partial aggregation happens
map-side; very common terms make the self-join quadratic per doc — at
100 TB the standard mitigation is dropping ultra-high-df terms first
(`max_df`), which is also semantically what you want (stopword-like
terms correlate with everything).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def term_norms(postings: DataFrame) -> DataFrame:
    """L2 norm of each term's posting vector; `|| 1` guard applied
    (DbInterface.class.js:461-462: a zero norm is replaced by 1)."""
    n = F.sqrt(F.sum(F.col("tf") * F.col("tf")))
    return postings.groupBy("term").agg(
        F.when(n == 0, F.lit(1.0)).otherwise(n).alias("norm")
    )


def term_correlations(
    postings: DataFrame,
    min_tcr: float = 0.0,
    max_df: int | None = None,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """All-pairs cosine over the inverted index: (term1, term2, tcr) with
    term1 < term2 (use :func:`symmetric` for the reference's stored-
    both-ways layout, DbInterface.class.js:189-218).

    ``max_df`` (absolute) / ``max_df_ratio`` (fraction of distinct docs)
    drop ultra-common terms before the self-join — THE skew guard for
    web-scale postings: a term present in half the corpus makes the
    doc_id self-join quadratic in corpus size, and its correlations are
    semantically worthless (it co-occurs with everything). The ratio
    form is scale-free, so the same query works at any sf; the doc count
    is computed plan-side (1-row broadcast), never collected.
    """
    p = postings.select("term", "doc_id", "tf")
    if max_df is not None or max_df_ratio is not None:
        dfreq = p.groupBy("term").agg(F.count("*").alias("_df"))
        if max_df_ratio is not None:
            ndocs = p.select(F.countDistinct("doc_id").alias("_n"))
            keep = (
                dfreq.crossJoin(F.broadcast(ndocs))
                .where(F.col("_df") <= F.lit(max_df_ratio) * F.col("_n"))
                .select("term")
            )
        else:
            keep = dfreq.where(F.col("_df") <= max_df).select("term")
        p = p.join(keep, "term")
    a = p.select(F.col("term").alias("term1"), "doc_id", F.col("tf").alias("tf1"))
    b = p.select(F.col("term").alias("term2"), "doc_id", F.col("tf").alias("tf2"))
    dots = (
        a.join(b, "doc_id")
        .where(F.col("term1") < F.col("term2"))
        .groupBy("term1", "term2")
        .agg(F.sum(F.col("tf1") * F.col("tf2")).alias("dot"))
    )
    norms = term_norms(p)
    out = (
        dots.join(norms.withColumnsRenamed({"term": "term1", "norm": "n1"}), "term1")
        .join(norms.withColumnsRenamed({"term": "term2", "norm": "n2"}), "term2")
        .select(
            "term1",
            "term2",
            (F.col("dot") / (F.col("n1") * F.col("n2"))).alias("tcr"),
        )
    )
    if min_tcr > 0.0:
        out = out.where(F.col("tcr") >= min_tcr)
    return out


def _guard_keep(p: DataFrame, max_df_ratio: float) -> DataFrame:
    """Terms passing the df-ratio guard — the keep set of
    :func:`term_correlations`'s ``max_df_ratio`` arm."""
    dfreq = p.groupBy("term").agg(F.count("*").alias("_df"))
    ndocs = p.select(F.countDistinct("doc_id").alias("_n"))
    return (
        dfreq.crossJoin(F.broadcast(ndocs))
        .where(F.col("_df") <= F.lit(max_df_ratio) * F.col("_n"))
        .select("term")
    )


def incremental_correlations(
    old_postings: DataFrame,
    new_postings: DataFrame,
    changed_doc_ids: DataFrame,
    stored_corr: DataFrame,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Incremental view maintenance for the correlation table (S8/I8-I9):
    after a batch of documents changes (``changed_doc_ids`` — added,
    modified or deleted), recompute ONLY the pairs that can have changed
    and carry every other stored pair over verbatim.

    Why it is exact:
    * dot(t1,t2) changes only if some changed doc contains both terms →
      only pairs with ≥1 *affected* term (a term appearing in a changed
      doc, before or after).
    * norm(t) changes only for affected terms.
    * the df-guard's keep-set can flip for an UNchanged term when the
      corpus doc count moves — guard-flipped terms are folded into the
      affected set, so carried pairs are exactly those whose dot, norms
      and guard membership are all provably unchanged.

    Cost ∝ postings volume of affected terms (their full posting lists
    self-joined), not the corpus — the set-oriented version of the
    reference's "refresh correlations for this file's terms" intent
    (DbInterface.class.js:163-180) that its O(terms²) loop made
    unaffordable.

    Returns the complete new correlation table (term1 < term2); compare
    against ``term_correlations(new_postings, …)`` for equivalence."""
    changed = changed_doc_ids.select("doc_id").distinct()

    # affected/keep_new are SMALL term lists but fan out into 4+
    # downstream branches. A plain reference re-derives the whole
    # subtree per branch (~80 near-empty shuffle stages of scheduler
    # overhead measured at sf0.1 — 46 s for 37 output rows); cache()
    # would keep the logical plan AND leak (no unpersist point in this
    # function). lazy localCheckpoint pins each to ONE RDD, so every
    # branch shares a single materialization and the blocks are freed
    # when the handle is GC'd.
    touched_terms = (
        old_postings.join(changed, "doc_id")
        .select("term")
        .unionByName(new_postings.join(changed, "doc_id").select("term"))
        .distinct()
    )
    if max_df_ratio is None:
        # no guard → "guard membership" is vocabulary membership, and a
        # term can only appear in / vanish from the vocabulary via a
        # changed doc — flips are a subset of touched_terms already
        affected = touched_terms.localCheckpoint(eager=False)
    else:
        # guard-flip detection in ONE pass over the OLD dfreq instead
        # of old/new keep sets + a double exceptAll: an UNtouched term
        # has df_new = df_old, so its keep flag flips iff df_old lands
        # between max_df_ratio·n_old and max_df_ratio·n_new (the doc
        # count moved under it). Touched terms this band test may also
        # emit are harmless — they are unioned into the affected set
        # regardless.
        dfreq_old = old_postings.groupBy("term").agg(
            F.count("*").alias("_df")
        )
        n_old = old_postings.select(
            F.countDistinct("doc_id").alias("_n_old")
        )
        n_new = new_postings.select(
            F.countDistinct("doc_id").alias("_n_new")
        )
        flipped = (
            dfreq_old.crossJoin(F.broadcast(n_old))
            .crossJoin(F.broadcast(n_new))
            .where(
                (F.col("_df") <= F.lit(max_df_ratio) * F.col("_n_old"))
                != (F.col("_df") <= F.lit(max_df_ratio) * F.col("_n_new"))
            )
            .select("term")
        )
        affected = (
            touched_terms.unionByName(flipped)
            .distinct()
            .localCheckpoint(eager=False)
        )
    keep_new = (
        None
        if max_df_ratio is None
        else _guard_keep(new_postings, max_df_ratio).localCheckpoint(
            eager=False
        )
    )

    # carried: stored pairs with BOTH sides unaffected (dot, norms and
    # guard membership all unchanged)
    carried = (
        stored_corr.join(
            affected.withColumnsRenamed({"term": "term1"}), "term1", "left_anti"
        ).join(affected.withColumnsRenamed({"term": "term2"}), "term2", "left_anti")
        .select(*stored_corr.columns)
    )

    # recomputed: every pair involving an affected term, from the new
    # guarded postings. Orientation rule keeps each pair exactly once:
    # (a < b) always, plus (a > b) only when b is NOT affected (else the
    # b-side row produced it already).
    p = new_postings.join(keep_new, "term") if max_df_ratio is not None else new_postings
    # NOT cached: p feeds three branches, but each re-derivation is one
    # cheap join of the (caller-cached) new postings with a small agg —
    # measured at sf0.1, caching the ~postings-sized p cost more in
    # materialization than the re-joins it saved
    p = p.select("term", "doc_id", "tf")
    aff_mark = affected.withColumn("_aff", F.lit(True))
    pa = p.join(aff_mark.select("term", "_aff"), "term").select(
        F.col("term").alias("ta"), "doc_id", F.col("tf").alias("tfa")
    )
    pb = p.join(aff_mark.select("term", "_aff"), "term", "left").select(
        F.col("term").alias("tb"),
        "doc_id",
        F.col("tf").alias("tfb"),
        F.coalesce(F.col("_aff"), F.lit(False)).alias("b_aff"),
    )
    rows = (
        pa.join(pb, "doc_id")
        .where(
            (F.col("ta") < F.col("tb"))
            | ((F.col("ta") > F.col("tb")) & ~F.col("b_aff"))
        )
        .select(
            F.least("ta", "tb").alias("term1"),
            F.greatest("ta", "tb").alias("term2"),
            (F.col("tfa") * F.col("tfb")).alias("prod"),
        )
    )
    dots = rows.groupBy("term1", "term2").agg(F.sum("prod").alias("dot"))
    norms = term_norms(p)
    recomputed = (
        dots.join(norms.withColumnsRenamed({"term": "term1", "norm": "n1"}), "term1")
        .join(norms.withColumnsRenamed({"term": "term2", "norm": "n2"}), "term2")
        .select(
            "term1",
            "term2",
            (F.col("dot") / (F.col("n1") * F.col("n2"))).alias("tcr"),
        )
        .select(*stored_corr.columns)
    )
    return carried.unionByName(recomputed)


def symmetric(corr: DataFrame) -> DataFrame:
    """Store both (t1,t2) and (t2,t1) — the reference's layout (S8)."""
    return corr.unionByName(
        corr.select(F.col("term2").alias("term1"), F.col("term1").alias("term2"), "tcr")
    )


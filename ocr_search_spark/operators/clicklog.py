"""Query-log intelligence: position-bias-corrected click modeling.

The reference logs raw search queries (DbInterface.class.js:477-496,
search_history) and never looks at them again. A production engine
closes the loop: the click log is the cheapest relevance signal there
is, but raw click-through rate is confounded by POSITION BIAS — rank 1
gets clicked because it is rank 1. The standard first-order correction
is COEC, "clicks over expected clicks" (Zhang & Jones, WWW'07 workshop;
Chapelle & Zhang WWW'09 use it as the baseline the DBN model beats):
normalize each document's clicks by the clicks an AVERAGE document
would have collected from the same impression positions.

Everything here is exact integer arithmetic (per-cell floor division in
e6 fixed point, long sums) so the result value-hashes identically in
any engine — the repo-wide determinism discipline.

Scale shape: the position-prior table has one row per display position
(≤ tens) — a broadcast dimension by construction; the per-document pass
is two hash aggregates riding one (doc, pos) shuffle. No UDF, no
window, no self-join; cost is linear in the impression log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

E6 = 1_000_000


def position_priors(
    impressions: DataFrame, pos_col: str = "pos", click_col: str = "clicked"
) -> DataFrame:
    """(pos, n_imp, n_click, ctr_e6) — the global per-position click
    prior: the empirical probability that ANY result shown at this
    position is clicked. ctr_e6 = n_click·1e6 div n_imp (exact floor).
    """
    return impressions.groupBy(F.col(pos_col).alias("pos")).agg(
        F.count("*").cast("long").alias("n_imp"),
        F.sum(F.col(click_col).cast("long")).cast("long").alias("n_click"),
    ).select(
        "pos",
        "n_imp",
        "n_click",
        F.expr("n_click * 1000000 div n_imp").alias("ctr_e6"),
    )


def team_draft_interleave(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 3,
    query_col: str = "query_id",
    rank_col: str = "rank",
    doc_col: str = "doc",
    a_first_on_tie=None,
) -> DataFrame:
    """(query_id, slot, doc, team) — TEAM-DRAFT INTERLEAVING (Radlinski/
    Kurup/Joachims CIKM'08), the standard online A/B ranker comparison:
    merge two systems' ranked lists into one result list where each
    slot is owned by team 'A' or 'B'; clicks on a team's slots credit
    that team, and per-query credit feeds a paired test (e.g. a sign
    test). Deterministic variant: the published coin flip on
    picking order is pinned to ``a_first_on_tie`` (default: even
    ``query_col`` → A first) — reproducibility over randomization, with
    debiasing recovered across the query population by the parity
    split.

    Pinned draft rule, applied for up to 2k steps per query: the team
    with FEWER picks so far picks next (tie → the pinned coin); a team
    picks its highest-ranked doc not already in the interleaved list;
    if its list is exhausted the turn falls through to the other team;
    when both are exhausted the list is final (shorter than 2k).
    Duplicate docs within one system's list are a caller error
    (ranked lists are distinct by construction).

    The whole draft is ONE columnar fold — ``aggregate`` over a static
    2k-step sequence with the interleaved prefix as state, nested
    higher-order filters for pick counts and next-candidate lookup. No
    UDF, no driver loop, no self-join: cost per query is O(k²) array
    scans over k-length arrays, embarrassingly parallel over queries —
    millions of query pairs interleave in one stage.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = query_col

    def side(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy(F.col(q).alias(q)).agg(
            F.expr(
                f"transform(array_sort(collect_list(struct({rank_col} AS r, "
                f"{doc_col} AS d))), x -> x.d)"
            ).alias(out)
        )

    j = (
        side(ranked_a, "la")
        .join(side(ranked_b, "lb"), q, "full_outer")
        .select(
            q,
            F.expr("coalesce(la, cast(array() as array<string>))").alias("la"),
            F.expr("coalesce(lb, cast(array() as array<string>))").alias("lb"),
        )
    )
    if a_first_on_tie is None:
        a_first_on_tie = F.expr(f"({q} % 2) = 0")
    j = j.withColumn("afirst", a_first_on_tie)

    cnt_a = "size(filter(acc, p -> p.team = 'A'))"
    cnt_b = f"(size(acc) - {cnt_a})"
    a_turn = f"(({cnt_a} < {cnt_b}) OR (({cnt_a} = {cnt_b}) AND afirst))"
    cand_a = "get(filter(la, d -> NOT exists(acc, p -> p.doc = d)), 0)"
    cand_b = "get(filter(lb, d -> NOT exists(acc, p -> p.doc = d)), 0)"
    chosen_doc = (
        f"if({a_turn}, coalesce({cand_a}, {cand_b}), "
        f"coalesce({cand_b}, {cand_a}))"
    )
    chosen_team = (
        f"if({a_turn}, if({cand_a} IS NOT NULL, 'A', 'B'), "
        f"if({cand_b} IS NOT NULL, 'B', 'A'))"
    )
    fold = f"""aggregate(
      sequence(1, {2 * k}),
      cast(array() as array<struct<doc: string, team: string>>),
      (acc, s) -> if({chosen_doc} IS NULL, acc,
        array_append(acc, named_struct('doc', {chosen_doc},
                                       'team', {chosen_team}))))"""
    drafted = j.select(q, F.expr(fold).alias("_draft"))
    return drafted.select(
        q, F.posexplode("_draft").alias("_pos", "_p")
    ).select(
        F.col(q).alias("query_id"),
        (F.col("_pos") + 1).cast("int").alias("slot"),
        F.col("_p.doc").alias("doc"),
        F.col("_p.team").alias("team"),
    )


def interleave_credit(
    interleaved: DataFrame,
    clicks: DataFrame,
    query_col: str = "query_id",
    slot_col: str = "slot",
) -> DataFrame:
    """(query_id, credit_a, credit_b, winner) — the credit half of the
    interleaving experiment: each click on an interleaved slot credits
    the team that contributed it; per query the team with more credited
    clicks wins ('A' / 'B' / 'tie', ties including the no-click case).
    The winner column is exactly the input a paired sign test
    consumes — interleave → credit → sign test is the complete
    online-experiment readout.

    ``clicks`` carries (query_col, slot_col) rows; clicks on slots the
    draft never filled simply match nothing. Queries with no clicks
    still appear (left join from the interleaved query set) — dropping
    them would silently shrink the experiment's n. One join + one hash
    agg, both on the query key."""
    qs = interleaved.select(query_col).distinct()
    j = interleaved.join(clicks.select(query_col, slot_col), [query_col, slot_col])
    per = j.groupBy(query_col).agg(
        F.sum(F.when(F.col("team") == "A", 1).otherwise(0))
        .cast("long")
        .alias("credit_a"),
        F.sum(F.when(F.col("team") == "B", 1).otherwise(0))
        .cast("long")
        .alias("credit_b"),
    )
    full = qs.join(per, query_col, "left").select(
        query_col,
        F.coalesce("credit_a", F.lit(0)).cast("long").alias("credit_a"),
        F.coalesce("credit_b", F.lit(0)).cast("long").alias("credit_b"),
    )
    return full.select(
        query_col,
        "credit_a",
        "credit_b",
        F.when(F.col("credit_a") > F.col("credit_b"), "A")
        .when(F.col("credit_b") > F.col("credit_a"), "B")
        .otherwise("tie")
        .alias("winner"),
    )


def cascade_attractiveness(
    impressions: DataFrame,
    session_col: str = "sid",
    doc_col: str = "doc",
    pos_col: str = "pos",
    click_col: str = "clicked",
) -> DataFrame:
    """(doc, n_exam, n_click, attract_e6) — the CASCADE click model's
    closed-form MLE (Craswell/Zoeter/Taylor/Ramsey WSDM'08): the user
    scans a result list top-down and stops at the first click, so a
    document is EXAMINED only when it sits at or above the session's
    first click (sessions with no click examine the whole list).
    attractiveness = clicks / examinations — unlike raw CTR this does
    not punish a doc for ranking below an attractive competitor, and
    unlike :func:`coec` it uses the per-SESSION stopping structure,
    not a global position prior; the two models bracket the bias.

    attract_e6 = n_click · 1e6 div n_exam, exact. Plan: one min-window
    per session (first click position), one filter, one hash agg —
    linear in the log; the window partitions by session (millions of
    tiny groups — the shape Spark shuffles best).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(session_col)
    first_click = F.min(
        F.when(F.col(click_col).cast("long") == 1, F.col(pos_col))
    ).over(w)
    examined = impressions.withColumn("_fc", first_click).where(
        F.col("_fc").isNull() | (F.col(pos_col) <= F.col("_fc"))
    )
    return examined.groupBy(F.col(doc_col).alias("doc")).agg(
        F.count("*").cast("long").alias("n_exam"),
        F.sum(F.col(click_col).cast("long")).cast("long").alias("n_click"),
    ).select(
        "doc",
        "n_exam",
        "n_click",
        F.expr("n_click * 1000000 div n_exam").alias("attract_e6"),
    )


def query_reformulations(
    log: DataFrame,
    user_col: str = "user",
    ts_col: str = "ts_us",
    query_col: str = "query",
    gap_us: int = 1800 * E6,
    min_support: int = 2,
    order_cols: tuple = (),
) -> DataFrame:
    """(q1, q2, n_pairs, n_q1, n_q2, lift_e6) — session-adjacent query
    REFORMULATION pairs mined from the query log (Jones et al.,
    "Generating query substitutions", WWW'06): q2 issued by the same
    user directly after q1 within ``gap_us``, with q2 ≠ q1. The raw
    material for query-suggestion and spell-fix candidates — the other
    half of the loop the reference's write-only search_history misses.

    lift_e6 = n_pairs · |T| · 1e6 div (n_q1 · n_q2) over the transition
    space T (all counted adjacencies), where n_q1 counts q1 as a
    SOURCE and n_q2 counts q2 as a TARGET — lift > 1e6 means the
    rewrite happens more often than the marginals predict (a directed
    association, not a popularity artifact). All exact integer
    arithmetic. Pairs below ``min_support`` are dropped AFTER the
    marginals are taken, so the lift denominator never shifts with the
    support cut.

    ``order_cols`` must break timestamp ties totally (pass the event
    id); adjacency under a non-total order is nondeterministic, which
    would poison every downstream count. Plan: one per-user window
    (lead), then three hash aggregates over the transition relation
    joined back on q1/q2 — no self-join of the log itself.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col, *order_cols)
    nxt_q = F.lead(query_col).over(w)
    nxt_t = F.lead(ts_col).over(w)
    tr = (
        log.select(
            F.col(query_col).alias("q1"),
            nxt_q.alias("q2"),
            (nxt_t - F.col(ts_col)).alias("_dt"),
        )
        .where(F.col("q2").isNotNull() & (F.col("q2") != F.col("q1")) & (F.col("_dt") <= gap_us))
        .select("q1", "q2")
    )
    pc = tr.groupBy("q1", "q2").agg(F.count("*").cast("long").alias("n_pairs"))
    m1 = tr.groupBy("q1").agg(F.count("*").cast("long").alias("n_q1"))
    m2 = tr.groupBy("q2").agg(F.count("*").cast("long").alias("n_q2"))
    total = tr.agg(F.count("*").cast("long").alias("_total"))
    return (
        pc.where(F.col("n_pairs") >= min_support)
        .join(m1, "q1")
        .join(m2, "q2")
        .crossJoin(F.broadcast(total))
        .select(
            "q1",
            "q2",
            "n_pairs",
            "n_q1",
            "n_q2",
            F.expr("n_pairs * _total * 1000000 div (n_q1 * n_q2)").alias(
                "lift_e6"
            ),
        )
    )


def coec(
    impressions: DataFrame,
    doc_col: str = "doc",
    pos_col: str = "pos",
    click_col: str = "clicked",
) -> DataFrame:
    """(doc, n_imp, n_click, expected_e6, coec_e6) — clicks over
    expected clicks per document.

    expected_e6 = Σ over (doc, pos) cells of
                  n_imp(doc,pos) · n_click(pos) · 1e6 div n_imp(pos)

    — floored PER CELL then long-summed, the pinned exactness rule
    (one floor at the end would need a rational common denominator
    across positions; per-cell floor is deterministic, engine-neutral,
    and biased by < |positions| micros). coec_e6 = n_click·1e12 div
    expected_e6, NULL when the document collected zero expected clicks
    (never impressed, or only at never-clicked positions) — a COEC of
    1e6 means "exactly as clicked as an average document shown at the
    same positions"; above, better; below, worse.

    The priors come from the SAME impression log (self-normalization:
    Σ expected over all docs ≈ Σ clicks), and join in as a broadcast —
    the position dimension is tiny by construction.
    """
    pri = position_priors(impressions, pos_col, click_col)
    cell = impressions.groupBy(
        F.col(doc_col).alias("doc"), F.col(pos_col).alias("pos")
    ).agg(
        F.count("*").cast("long").alias("_ci"),
        F.sum(F.col(click_col).cast("long")).cast("long").alias("_cc"),
    )
    j = cell.join(F.broadcast(pri), "pos")
    per_doc = j.groupBy("doc").agg(
        F.sum("_ci").cast("long").alias("n_imp"),
        F.sum("_cc").cast("long").alias("n_click"),
        F.sum(F.expr("_ci * n_click * 1000000 div n_imp"))
        .cast("long")
        .alias("expected_e6"),
    )
    return per_doc.select(
        "doc",
        "n_imp",
        "n_click",
        "expected_e6",
        F.when(
            F.col("expected_e6") > 0,
            F.expr("n_click * 1000000000000 div expected_e6"),
        ).alias("coec_e6"),
    )

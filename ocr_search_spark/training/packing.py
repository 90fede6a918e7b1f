"""Training-sequence packing and corpus-mixing operators.

``pack_sequences`` is the concat-and-chunk preparation step of LLM
training: put the corpus in a deterministic shuffled order, concatenate
token streams, and cut fixed-size training sequences. The per-document
outputs (global token offset → bin id + offset-in-bin) are exactly what
a downstream tokenizing writer needs to emit packed examples.

The global prefix sum is the interesting part at 10^12 documents: a
naive ``sum() OVER (ORDER BY h)`` is an unpartitioned window — one task
sees the world. Here it is the classic two-phase scan, all DataFrame:

1. docs get a uniform 60-bit shuffle hash ``h`` (md5-based, seeded) and
   a range bucket ``b = h >> (60 - log2(B))`` — h is uniform, so the B
   buckets are balanced without sampling;
2. within-bucket prefix sums use a PARTITIONED window (scales);
3. bucket totals (B rows, driver-bounded) get their own tiny cumulative
   window and broadcast-join back as offsets.

Total cost: one partitioned sort + one B-row aggregate — no global
single-task stage anywhere.

Reference parity: none (the reference indexes documents; it never packs
them) — this is part of the training-pipeline tier the engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import words_col
from .hashing import h60


N_RANGE_BUCKETS = 256  # power of two; 60-bit h >> 52 → 256 buckets


def pack_sequences(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack",
) -> DataFrame:
    """(id, n_tokens, bin_id, bin_offset) — deterministic shuffled
    concat-and-chunk packing of the corpus into ``budget``-token bins.

    Order is the salted shuffle hash (re-salt to re-shuffle between
    epochs); ``bin_id = floor(exclusive_prefix / budget)`` and
    ``bin_offset = exclusive_prefix % budget`` describe where each
    document's token stream starts inside the packed example stream —
    documents may straddle a bin boundary, as in standard
    concat-then-chunk training prep.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    d = docs.select(
        F.col(id_col).alias("id"),
        F.size(words_col(F.col(text_col))).cast("long").alias("n_tokens"),
        h60(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))).alias(
            "_h"
        ),
    ).withColumn("_b", F.shiftright("_h", 52).cast("int"))

    # phase 1: partitioned (scalable) within-bucket exclusive prefix
    wb = (
        Window.partitionBy("_b")
        .orderBy("_h", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("_local", F.coalesce(F.sum("n_tokens").over(wb), F.lit(0)))

    # phase 2: B-row bucket totals → cumulative offsets (bounded domain:
    # the unpartitioned window runs over ≤ N_RANGE_BUCKETS rows)
    totals = d.groupBy("_b").agg(F.sum("n_tokens").alias("_btotal"))
    wo = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_btotal").over(wo), F.lit(0))
    ).select("_b", "_off")

    # BIGINT `div`/`%`: the global offset passes 2^53 long before 10^12
    # docs, where double division would corrupt bin ids
    packed = (
        d.join(F.broadcast(offsets), "_b")
        .withColumn("_g", F.col("_off") + F.col("_local"))
        .select(
            "id",
            "n_tokens",
            F.expr(f"_g div {int(budget)}").cast("long").alias("bin_id"),
            (F.col("_g") % budget).cast("long").alias("bin_offset"),
        )
    )
    return packed


def source_mix_weights(
    docs: DataFrame,
    target: dict[str, float] | None = None,
    source_col: str = "source",
) -> DataFrame:
    """(source, n_docs, share_e6, weight_e6) — per-source sampling
    weights to reach a target corpus mix (default: uniform across the
    observed sources). ``weight = target_share / actual_share``, both
    carried as exact ×10⁶ integers (floor) so engines agree bit-for-bit.

    One tiny aggregate (cardinality = n_sources) + a broadcast of the
    one-row total; weights feed ``F.rand() < weight``-style samplers or
    loss re-weighting downstream."""
    counts = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs")
    )
    total = counts.agg(
        F.sum("n_docs").alias("_total"), F.count("*").alias("_nsrc")
    )
    out = counts.crossJoin(F.broadcast(total))
    if target is None:
        out = out.withColumn("_tgt_e6", F.expr("1000000 div _nsrc"))
    else:
        mapping = F.create_map(
            *[x for k, v in sorted(target.items())
              for x in (F.lit(k), F.lit(int(v * 1_000_000)))]
        )
        out = out.withColumn(
            "_tgt_e6", F.coalesce(mapping[F.col("source")], F.lit(0)).cast("long")
        )
    # BIGINT `div` keeps both ratios exact — a double division would
    # silently lose precision once the numerator passes 2^53 (true at
    # 10^12 rows x e6 scaling)
    return out.select(
        "source",
        "n_docs",
        F.expr("(n_docs * 1000000) div _total").cast("long").alias("share_e6"),
        F.expr("(_tgt_e6 * _total) div n_docs").cast("long").alias("weight_e6"),
    )


def chunk_documents(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    every RAG / long-document training pipeline runs before embedding
    or packing: split each document into word windows of ``size`` with
    ``stride`` between window starts (overlap = size - stride).

    Returns (id, chunk_idx, n_words, chunk_text, chunk_digest). Window
    starts are 0, stride, 2*stride, ...; the LAST window may be short;
    a document shorter than one window yields exactly one chunk. Chunk
    count is exact integer math — ``1 + ceil((n - size)/stride)`` for
    n > size else 1 — so any SQL twin lands on identical boundaries.

    Shape at scale: one projection — per-row array ops (split, slice,
    join) inside whole-stage codegen, then one explode; no shuffle at
    all, so it composes with downstream dedup/embedding stages without
    a repartition. The digest column is the downstream exact-dedup /
    decontamination key (chunks repeat across near-dup docs far more
    than whole documents do).
    """
    if size < 1 or stride < 1:
        raise ValueError(f"size and stride must be >= 1, got {size}/{stride}")
    if stride > size:
        raise ValueError(f"stride {stride} > size {size} would drop words")
    ws = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    n = F.size(ws)
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - F.lit(size)).cast("double") / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(ws, i * stride + 1, size), " "),
    )
    out = docs.select(
        F.col(id_col).alias("id"), F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    )
    return out.select(
        "id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(F.filter(F.split("chunk_text", r"\s+"), lambda x: x != ""))
        .cast("long")
        .alias("n_words"),
        "chunk_text",
        F.md5("chunk_text").alias("chunk_digest"),
    )


def temperature_mix_weights(
    docs: DataFrame,
    alpha_e6: int = 300_000,
    source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source sampling (the multilingual-balancing
    rule of mBERT/XLM-R/mT5, public): target share ∝ share^α with
    α = ``alpha_e6``/1e6 ∈ (0, 1] — α=1 keeps natural proportions, α→0
    flattens toward uniform, upweighting low-resource sources.

    Pinned cross-engine arithmetic: share_e6 = n·1e6 DIV total (exact
    BIGINT); pow_e6 = floor(1e6 · exp(α · ln(share_e6/1e6))) — ONE
    ln/exp pair on the exact integer share; target_e6 = pow_e6·1e6 DIV
    Σ pow_e6 (renormalized exactly); weight_e6 = target_e6·1e6 DIV
    share_e6 (the resample ratio vs natural share).

    Output: (source, n_docs, share_e6, target_e6, weight_e6). Shape:
    one n_sources-row aggregate + two 1-row broadcasts — free at any
    corpus size."""
    if not (0 < alpha_e6 <= 1_000_000):
        raise ValueError(f"alpha_e6 must be in (0, 1e6], got {alpha_e6}")
    counts = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    total = counts.agg(F.sum("n_docs").alias("_total"))
    alpha = alpha_e6 / 1_000_000.0
    shared = counts.crossJoin(F.broadcast(total)).withColumn(
        "share_e6", F.expr("n_docs * 1000000 div _total")
    )
    powed = shared.withColumn(
        "_pow_e6",
        F.floor(
            F.lit(1_000_000.0)
            * F.exp(F.lit(alpha) * F.log(F.col("share_e6").cast("double") / 1_000_000.0))
        ).cast("long"),
    )
    powtot = powed.agg(F.sum("_pow_e6").alias("_powtot"))
    return (
        powed.crossJoin(F.broadcast(powtot))
        .withColumn("target_e6", F.expr("_pow_e6 * 1000000 div _powtot"))
        .withColumn("weight_e6", F.expr("target_e6 * 1000000 div share_e6"))
        .select("source", "n_docs", "share_e6", "target_e6", "weight_e6")
    )


def cdc_chunks(
    docs: DataFrame,
    window: int = 8,
    mask: int = 63,
    min_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC family, public):
    chunk boundaries where the hash of the trailing ``window`` chars
    satisfies ``h % (mask+1) == 0`` — boundaries move WITH the content,
    so an insertion early in a doc shifts at most one chunk instead of
    re-keying every fixed-size block. This is the dedup-friendly
    chunker (backup/dedup literature; here: chunk-grain near-dup and
    delta storage for a 10^12-doc corpus).

    Pinned semantics: candidate boundary AFTER position i (1-based,
    i ≥ window) iff the polynomial window hash
    ``h(i) = Σ_{k=0..w-1} codepoint(t[i−w+1+k]) · 257^(w−1−k) mod
    1_000_000_007`` satisfies ``h % (mask+1) == 0`` (Rabin-Karp window
    hash — public; exact 64-bit-safe integer math, identical in Spark
    and DuckDB); accepted boundaries must be ≥ ``min_len`` apart
    (greedy left-to-right — F.aggregate over the candidate list, the
    exact FastCDC min-size rule); the doc end always closes the last
    chunk. Expected chunk length ≈ mask+1 chars + min_len.

    Output: (id, chunk_idx, start, chunk, digest) — digest = md5(chunk)
    for chunk-level dedup joins (one md5 per CHUNK, not per char).
    Pure columnar: one codes projection + one transform over char
    positions (8 array reads + integer mul/add each — no per-position
    digest; an earlier md5-per-position draft cost 103 s at sf0.1) +
    one greedy aggregate + one posexplode; no UDFs, no shuffle.
    """
    t = F.lower(F.col(text_col))
    n = F.length(t)
    w, m1, ml = int(window), int(mask) + 1, int(min_len)
    _B, _M = 257, 1_000_000_007
    pows = []
    p = 1
    for _ in range(w):
        pows.append(p)
        p = (p * _B) % _M
    pows.reverse()  # pows[k] = B^(w-1-k) mod M; k=0 is the leading char

    codes = F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long"))
    staged = docs.where(n > 0).select(
        F.col(id_col).alias("id"), t.alias("_t"), n.alias("_n"), codes.alias("_codes")
    )
    tc, nc, cc = F.col("_t"), F.col("_n"), F.col("_codes")

    def _wh(i):
        # window covers positions i-w+1 .. i (1-based); each term < M,
        # code*pow < 2^21 * 2^30 — exact in a 64-bit long everywhere
        acc = None
        for k in range(w):
            term = (
                F.element_at(cc, (i - F.lit(w - 1 - k)).cast("int")) * F.lit(pows[k])
            ) % _M
            acc = term if acc is None else acc + term
        return acc % _M

    cand = F.filter(
        F.transform(
            F.sequence(F.lit(w), nc),
            lambda i: F.when(_wh(i) % m1 == 0, i).otherwise(F.lit(None)),
        ),
        lambda x: x.isNotNull(),
    )
    # Each HOF lands in its OWN projection: higher-order functions run
    # interpreted (no codegen CSE), so a nested cand→accepted→bounds
    # expression tree re-evaluates the whole per-char scan once per
    # reference — staging caps every step at once-per-row.
    s_cand = staged.select("id", "_t", "_n", cand.alias("_cand"))
    # greedy min-distance acceptance, then close the final chunk at n
    accepted = F.aggregate(
        F.col("_cand"),
        F.array().cast("array<int>"),
        lambda acc, i: F.when(
            (F.size(acc) == 0) & (i >= ml)
            | (F.size(acc) > 0) & (i - F.element_at(acc, -1) >= ml),
            F.concat(acc, F.array(i.cast("int"))),
        ).otherwise(acc),
    )
    s_acc = s_cand.select("id", "_t", "_n", accepted.alias("_acc"))
    ac = F.col("_acc")
    bounds = F.when(
        (F.size(ac) == 0) | (F.element_at(ac, -1) != nc),
        F.concat(ac, F.array(nc.cast("int"))),
    ).otherwise(ac)
    s_bounds = s_acc.select("id", "_t", bounds.alias("_bounds"))
    bc = F.col("_bounds")
    # starts: 0-based start of chunk j = previous boundary (or 0)
    starts = F.transform(
        F.sequence(F.lit(1), F.size(bc)),
        lambda j: F.when(j == 1, F.lit(0)).otherwise(F.element_at(bc, j - 1)),
    )
    spans = F.zip_with(
        starts,
        bc,
        lambda s, e: F.struct(
            s.cast("int").alias("start"),
            F.substring(tc, s + 1, e - s).alias("chunk"),
        ),
    )
    out = s_bounds.select("id", F.posexplode(spans).alias("chunk_idx", "c"))
    return out.select(
        "id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.start").alias("start"),
        F.col("c.chunk").alias("chunk"),
        F.md5("c.chunk").alias("digest"),
    )


def mixture_token_plan(
    source_tokens: DataFrame,
    weights: list[tuple[str, int]],
    budget: int,
    max_epochs_e6: int | None = None,
) -> DataFrame:
    """(source, tokens, weight, target_tokens, planned_tokens,
    epochs_e6, capped) — token-budget mixture planning: given how many
    tokens each source HAS and the target mixture WEIGHTS, allocate a
    total training ``budget`` across sources and report how many passes
    (epochs) over each source that allocation implies.

    This is the planning table behind every published data-mixture
    recipe (LLaMA's "sampling prop. / epochs" table, Pile §2): the
    mixture is declared as integer weights, the corpus inventory is
    measured, and the resulting per-source epoch count is the signal
    that a source is over-sampled (epochs > 1 means repeating data).

    Pinned rules, each exact BIGINT so a SQL twin replays bit-for-bit:

    * ``target_tokens = budget * weight div total_weight`` (floor; the
      remainder ``budget - sum(target)`` is intentionally unallocated —
      deterministic, rather than an arbitrary largest-remainder tweak);
    * ``epochs_e6 = target_tokens * 1e6 div tokens`` (NULL when the
      source has zero tokens — the caller's inventory is broken and the
      plan says so instead of inventing a number);
    * with ``max_epochs_e6`` set, a source whose epochs exceed the cap
      has ``planned_tokens = tokens * max_epochs_e6 div 1e6`` and
      ``capped = true``; the freed budget is NOT redistributed (a
      redistribution loop is iterative and belongs to the caller —
      re-invoke with adjusted weights if desired). Uncapped sources
      have ``planned_tokens = target_tokens``.

    Scale shape: ``weights`` is a program literal — it enters the plan
    as Range(1) + inline of a literal struct array (visibly literal,
    see session.literal_df / tools/plan_lint.py); ``source_tokens`` is the
    (n_sources)-row aggregate the caller computes with one hash agg.
    The weights-preserving left join therefore moves mixture-cardinality
    rows only, never corpus rows — no hint needed (Spark cannot
    broadcast the outer-preserved side of a left join anyway; a
    build-left hint here would just be ignored with a warning).

    Reference parity: none — the reference has no training tier; this
    extends the engine the same way source_mix_weights does.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if not weights:
        raise ValueError("weights must be non-empty")
    names = [s for s, _ in weights]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate source in weights: {names}")
    if any(int(w) <= 0 for _, w in weights):
        raise ValueError("weights must be positive integers")
    total_w = sum(int(w) for _, w in weights)
    spark = source_tokens.sparkSession
    warr = F.array(
        *[
            F.struct(
                F.lit(s).alias("source"),
                F.lit(int(w)).cast("long").alias("weight"),
            )
            for s, w in weights
        ]
    )
    wdf = spark.range(1).select(F.inline(warr))
    # weights drive the plan: a source in the corpus but absent from the
    # declared mixture is EXCLUDED (left join from weights), a declared
    # source missing from the corpus shows tokens=0 / epochs NULL.
    joined = wdf.join(
        source_tokens.select(
            F.col("source").alias("_src"), F.col("tokens").cast("long")
        ),
        F.col("source") == F.col("_src"),
        "left",
    )
    tgt = F.expr(f"({int(budget)} * weight) div {int(total_w)}")
    out = joined.select(
        "source",
        F.coalesce(F.col("tokens"), F.lit(0)).cast("long").alias("tokens"),
        "weight",
        tgt.cast("long").alias("target_tokens"),
    )
    epochs = F.when(
        F.col("tokens") > 0,
        F.expr("(target_tokens * 1000000) div tokens"),
    ).cast("long")
    out = out.withColumn("_epochs_raw", epochs)
    if max_epochs_e6 is not None:
        if int(max_epochs_e6) <= 0:
            raise ValueError(f"max_epochs_e6 must be > 0, got {max_epochs_e6}")
        capped = F.col("_epochs_raw") > F.lit(int(max_epochs_e6))
        planned = F.when(
            capped, F.expr(f"(tokens * {int(max_epochs_e6)}) div 1000000")
        ).otherwise(F.col("target_tokens"))
        eff_epochs = F.when(
            F.col("tokens") > 0, F.expr("(planned_tokens * 1000000) div tokens")
        ).cast("long")
        return (
            out.withColumn(
                "planned_tokens", planned.cast("long")
            )
            .withColumn("epochs_e6", eff_epochs)
            .withColumn("capped", F.coalesce(capped, F.lit(False)))
            .drop("_epochs_raw")
        )
    return (
        out.withColumn("planned_tokens", F.col("target_tokens"))
        .withColumn("epochs_e6", F.col("_epochs_raw"))
        .withColumn("capped", F.lit(False))
        .drop("_epochs_raw")
    )


# ------------------------------------------------- T5 span corruption


def span_corruption(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 3,
    density_e6: int = 150_000,
) -> DataFrame:
    """(id, input_text, target_text) — the T5/UL2 SPAN-CORRUPTION
    objective's data prep (Raffel et al. JMLR'20 §3.1.4): mask spans of
    tokens with ``<extra_id_j>`` sentinels in the input and emit the
    masked spans, each prefixed by its sentinel, as the target. The
    pretraining-pair generator every denoising LM run needs, as one
    columnar plan over the corpus.

    T5 samples span placements; this build PINS them deterministically
    (same doc → same pair, any cluster, any partitioning — the
    reproducibility contract the rest of the engine keeps):

    * ``S = (n·density_e6 div 1e6) div span_len`` spans for an n-token
      doc (S = 0 → input passes through, empty target);
    * the index range splits into S equal segments ``[j·n div S,
      (j+1)·n div S)`` — spans can never overlap or touch segment
      neighbours' tokens;
    * span j starts at ``seg_lo + h60(id:':sc:':j) % avail`` with
      ``avail = seg_len − span_len + 1`` (md5-derived :func:`h60`, so
      any engine replays the draw); a segment too short to host a span
      (avail < 1) contributes nothing and its sentinel number is
      SKIPPED (numbering follows j, not emission order — stable under
      skips).

    Whole-stage-codegen array expressions end to end: one transform
    builds the span structs, one per-position flatten rebuilds the
    masked input, one span-wise flatten builds the target. Per-doc
    cost O(n·S); no shuffle at all — the operator is a projection.
    """
    if span_len < 1:
        raise ValueError(f"span_len must be >= 1, got {span_len}")
    if not 0 < density_e6 <= 1_000_000:
        raise ValueError(f"density_e6 must be in (0, 1e6], got {density_e6}")
    L = span_len
    base = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.expr(
            f"filter(split({text_col}, '\\\\s+'), w -> w != '')"
        ).alias("_toks"),
    ).withColumn("_n", F.size("_toks").cast("long")).withColumn(
        "_s", F.expr(f"(_n * {density_e6} div 1000000) div {L}")
    )
    h = (
        "cast(conv(substring(md5(concat(id, ':sc:', cast(j as string))), 1, 15),"
        " 16, 10) as bigint)"
    )
    spans = f"""filter(
      transform(sequence(0, bigint(_s) - 1), j ->
        named_struct(
          'j', j,
          's', (j * _n div _s) +
               if(((j + 1) * _n div _s) - (j * _n div _s) - {L} + 1 > 0,
                  {h} % (((j + 1) * _n div _s) - (j * _n div _s) - {L} + 1),
                  -999999999),
          'e', (j * _n div _s) +
               if(((j + 1) * _n div _s) - (j * _n div _s) - {L} + 1 > 0,
                  {h} % (((j + 1) * _n div _s) - (j * _n div _s) - {L} + 1),
                  -999999999) + {L})),
      sp -> sp.s >= 0)"""
    withspans = base.withColumn(
        "_spans", F.expr(f"if(_s > 0, {spans}, array())")
    )
    input_expr = """array_join(flatten(transform(sequence(0, int(_n) - 1), i ->
      CASE
        WHEN exists(_spans, sp -> sp.s = i)
          THEN array(concat('<extra_id_',
                            cast(filter(_spans, sp -> sp.s = i)[0].j as string),
                            '>'))
        WHEN exists(_spans, sp -> i > sp.s AND i < sp.e) THEN array()
        ELSE array(element_at(_toks, i + 1))
      END)), ' ')"""
    target_expr = f"""array_join(flatten(transform(_spans, sp ->
      concat(array(concat('<extra_id_', cast(sp.j as string), '>')),
             slice(_toks, int(sp.s) + 1, {L})))), ' ')"""
    return withspans.select(
        "id",
        F.expr(input_expr).alias("input_text"),
        F.expr(target_expr).alias("target_text"),
    )


def fim_transform(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 12,
) -> DataFrame:
    """(id, fim_text) — FILL-IN-THE-MIDDLE document transformation
    (Bavarian et al. 2022, arXiv:2207.14255; the objective behind every
    code-completion LLM): split the text at two pinned cut points into
    prefix/middle/suffix and re-serialize in PSM order

        <PRE> prefix <SUF> suffix <MID> middle

    so an autoregressive model learns infilling for free. Cut points
    are h60 character draws (c1 = h % (n−2), c2 = c1 + 1 + h' %
    (n−1−c1), so 0 ≤ c1 < c2 < n and the middle is never empty);
    every engine replays them. Docs shorter than ``min_len`` chars
    pass through untransformed (the published practice of mixing FIM
    with plain causal text keeps short docs causal). Zero-shuffle
    substring projection."""
    if min_len < 3:
        raise ValueError(f"min_len must be >= 3, got {min_len}")
    from .hashing import h60

    base = docs.select(
        F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("_t")
    ).withColumn("_n", F.length("_t").cast("long"))
    # The cut-point expressions are evaluated for EVERY row (the
    # short-doc pass-through only selects which column wins at the end),
    # so the modulo divisors must never be <= 0: a 1- or 2-char doc
    # would otherwise raise REMAINDER_BY_ZERO under ANSI mode and abort
    # the job.  greatest(·, 1) keeps the divisor unchanged whenever the
    # FIM branch can actually win (_n >= min_len >= 3 implies _n-2 >= 1
    # and _n-1-_c1 >= 1) and merely yields a harmless dead value for
    # pass-through rows.
    c1 = h60(F.concat(F.col("id"), F.lit(":fim:1"))) % F.greatest(
        F.col("_n") - 2, F.lit(1)
    )
    c2 = (
        F.col("_c1")
        + 1
        + h60(F.concat(F.col("id"), F.lit(":fim:2")))
        % F.greatest(F.col("_n") - 1 - F.col("_c1"), F.lit(1))
    )
    cut = base.withColumn("_c1", c1).withColumn("_c2", c2)
    fim = F.concat(
        F.lit("<PRE>"),
        F.expr("substring(_t, 1, _c1)"),
        F.lit("<SUF>"),
        F.expr("substring(_t, _c2 + 1, _n - _c2)"),
        F.lit("<MID>"),
        F.expr("substring(_t, _c1 + 1, _c2 - _c1)"),
    )
    return cut.select(
        "id",
        F.when(F.col("_n") >= min_len, fim).otherwise(F.col("_t")).alias(
            "fim_text"
        ),
    )


# --------------------------------------------- skip-gram training pairs


def skipgram_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
    t_e6: int = 5000,
) -> DataFrame:
    """(center, context, cnt) — skip-gram training pairs with frequency
    SUBSAMPLING (Mikolov et al. NIPS'13 §2.3): drop occurrences of
    very frequent words before windowing (they carry little signal and
    dominate the pair mass), then pair every surviving token with its
    neighbours within ``window`` positions of the SURVIVING sequence
    (deletion shrinks distances — the published semantics).

    Pinned subsampling: occurrence (doc, pos) survives iff
    ``h60(doc:':':pos) % 1e6 < keep_e6(word)`` with

        keep_e6 = min(1e6, floor(1e6 · sqrt((t_e6·N) / (1e6·f))))

    — t is Mikolov's threshold (1e-3-ish; 5e-3 default here), f the
    corpus count, N total tokens; sqrt is IEEE-correctly-rounded, so
    the double sequence replays exactly in any engine, and the h60
    draw is the md5 twin. Positions are indices in the empty-filtered
    token array.

    Plan: one explode, one broadcast frequency join + scalar N, one
    per-doc re-rank window over survivors, one doc-keyed bounded
    self-join (|Δr| ≤ window — n·2w pairs, never n²), one hash count.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if not 0 < t_e6 <= 1_000_000:
        raise ValueError(f"t_e6 must be in (0, 1e6], got {t_e6}")
    from pyspark.sql import Window as W

    from .hashing import h60

    toks = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.posexplode(
            F.expr(f"filter(split(lower({text_col}), '\\\\s+'), w -> w != '')")
        ).alias("pos", "w"),
    )
    freq = toks.groupBy("w").agg(F.count("*").cast("long").alias("_f"))
    tot = toks.agg(F.count("*").cast("long").alias("_n"))
    keep = F.least(
        F.lit(1_000_000).cast("long"),
        F.floor(
            F.lit(1_000_000.0)
            * F.sqrt(
                (F.lit(t_e6) * F.col("_n")).cast("double")
                / (F.lit(1_000_000) * F.col("_f")).cast("double")
            )
        ).cast("long"),
    )
    kept = (
        toks.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(tot))
        .where(
            h60(F.concat(F.col("id"), F.lit(":"), F.col("pos").cast("string")))
            % 1_000_000
            < keep
        )
        .withColumn(
            "r", F.row_number().over(W.partitionBy("id").orderBy("pos"))
        )
        .select("id", "r", "w")
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = a.join(
        b,
        (F.col("a.id") == F.col("b.id"))
        & (F.col("a.r") != F.col("b.r"))
        & (F.abs(F.col("a.r") - F.col("b.r")) <= window),
    ).select(F.col("a.w").alias("center"), F.col("b.w").alias("context"))
    return pairs.groupBy("center", "context").agg(
        F.count("*").cast("long").alias("cnt")
    )

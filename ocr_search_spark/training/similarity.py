"""Embedding similarity search over an ``array<float>`` column.

* ``cosine_topk`` — brute-force exact top-k: the correctness baseline.
  Query side is broadcast (queries ≪ corpus); candidate side streams —
  no shuffle of the corpus at all, ranking via per-query window top-k.
* ``ivf_*`` — the scale path: coarse-quantize the corpus into
  ``n_centroids`` inverted lists (one groupBy), probe only ``nprobe``
  lists per query. Centroid seeding is deterministic (first-m vectors) —
  a k-means refinement can replace ``ivf_centroids`` without touching
  assign/search.

All arithmetic is float→double elementwise with left-to-right
``F.aggregate`` summation and pinned rounding, so results are
deterministic and cross-engine verifiable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# coarse-quantizer codebooks are hundreds-to-thousands of centroids;
# the centroid pick is a single-partition sort, so asking for more than
# this is a loud error rather than a silent one-core stall
_MAX_COARSE_CENTROIDS = 131_072


def dot_col(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, strict left-to-right (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors per query vector:
    (query_id, neighbor_id, cos). Self-matches excluded. Ranking uses
    the *rounded* score with neighbor-id tie-break → total order."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_col(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_col(F.col(vec_col)).alias("cn"),
    )
    cos = F.round(
        dot_col(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_digits
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos")
    )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse centroids: the n lowest-id vectors.
    (Replaceable by :func:`kmeans_centroids` — the IVF contract only
    needs (cid, cv).)

    Scale note: the row_number window below is UNPARTITIONED — a single-
    partition sort. Fine for the coarse-quantizer regime (n_centroids in
    the hundreds-to-thousands: the input is already `.limit(n)`-pruned),
    wrong if anyone raises n_centroids toward corpus size — so that is
    a loud ValueError (partition the id space first if a larger coarse
    codebook is ever genuinely needed)."""
    if n_centroids > _MAX_COARSE_CENTROIDS:
        raise ValueError(
            f"n_centroids={n_centroids} exceeds the coarse-quantizer bound "
            f"{_MAX_COARSE_CENTROIDS}: the centroid pick is an unpartitioned "
            "single-partition sort sized for hundreds-to-thousands of "
            "centroids — partition the id space first for bigger codebooks"
        )
    return (
        corpus.orderBy(F.asc(id_col))
        .limit(n_centroids)
        .select(
            F.row_number()
            .over(W.orderBy(F.asc(id_col)))
            .alias("cid"),
            F.col(vec_col).alias("cv"),
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Deterministic Lloyd refinement of the first-m seed, pure DataFrame
    ops — replaces :func:`ivf_centroids` without touching assign/search.

    Each iteration: cosine-assign every vector to its nearest centroid
    (rounded score, cid tie-break — a total order), then recompute each
    centroid as the element-wise mean of its members. Means go through
    exact DECIMAL sums (floats rounded to 9 dp first) with ONE cast to
    double and pinned rounding, so the result is independent of partial-
    aggregation order and cross-engine verifiable. Empty clusters simply
    drop out (both engines agree).

    Scale: per iteration one broadcast join (centroids ≪ corpus), one
    posexplode and one (cid, i) hash aggregate — shuffle volume is
    corpus × dim rows of partial sums, with full map-side combine; no
    driver-side data beyond the loop counter."""
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col).select(
        "cid", F.transform("cv", lambda x: x.cast("double")).alias("cv")
    )
    vecs = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    for _ in range(iters):
        # Materialize each iteration's centroids (n_centroids × dim — tiny).
        # Without this every downstream reference re-executes the FULL
        # prior-iteration lineage, and the physical plan grows
        # exponentially in iters (observed: the 2-iter plan embeds the
        # corpus scan 7×). Cache keeps results identical; it only pins
        # the iteration boundary.
        cents = cents.cache()
        assign = ivf_assign(corpus, cents, id_col, vec_col, round_digits)
        flat = assign.join(vecs, "vec_id").select(
            "cid", F.posexplode("v").alias("i", "x")
        )
        means = (
            flat.groupBy("cid", "i")
            .agg(
                F.sum(
                    F.round(F.col("x").cast("double"), 9).cast("decimal(28,12)")
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .select(
                "cid",
                "i",
                F.round(F.col("s").cast("double") / F.col("n"), round_digits).alias("m"),
            )
        )
        cents = (
            means.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("pairs"))
            .select("cid", F.transform("pairs", lambda s: s["m"]).alias("cv"))
        )
    cents = cents.cache()  # assign + search both re-reference it
    # <= n_centroids rows by construction; the limit is lossless and
    # makes every broadcast(cents) build side provably bounded
    return cents.limit(n_centroids)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Assign every vector to its nearest centroid (max rounded cosine,
    cid tie-break): (vec_id, cid). Centroids broadcast; one window."""
    v = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        norm_col(F.col(vec_col)).alias("vn"),
    )
    cos = F.round(
        dot_col(F.col("v"), F.col("cv")) / (F.col("vn") * norm_col(F.col("cv"))),
        round_digits,
    )
    scored = v.join(F.broadcast(centroids)).select(
        "vec_id", "cid", cos.alias("cos")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cid")
    )


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """ANN: probe the query's ``nprobe`` nearest inverted lists only.
    Join chain: queries→probed cids (broadcast) → assignments (partition
    pruned on cid at scale) → exact cosine → per-query window top-k."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_col(F.col(vec_col)).alias("qn"),
    )
    qcos = F.round(
        dot_col(F.col("qv"), F.col("cv")) / (F.col("qn") * norm_col(F.col("cv"))),
        round_digits,
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cid"))
    probed = (
        q.join(F.broadcast(centroids))
        .select("query_id", "qv", "qn", "cid", qcos.alias("qcos"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qn", "cid")
    )
    cand = assignments.join(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")),
        "vec_id",
    )
    cos = F.round(
        dot_col(F.col("qv"), F.col("cv")) / (F.col("qn") * norm_col(F.col("cv"))),
        round_digits,
    )
    scored = (
        cand.join(F.broadcast(probed), "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare pairs ONLY
    within a cluster, and drop every vector whose rounded cosine to a
    LOWER-id cluster-mate reaches ``threshold`` (keep-lowest-id rule —
    deterministic, unlike the paper's keep-random).

    Output: one row per vector — (vec_id, cid, keep, kept_by, max_cos)
    where kept_by = the smallest surviving witness id and max_cos the
    strongest in-cluster similarity, both NULL for keepers.

    Scale: the all-pairs step is confined to clusters, so cost is
    sum(|cluster|^2); the cid equi-join shuffles once and AQE skew-split
    handles a hot cluster. At 100 TB pick n_centroids ~ sqrt(N) so the
    expected cluster is ~sqrt(N) vectors; never run this without a
    clustering step (the unclustered all-pairs join is quadratic).
    Replaces the reference's nothing — ocr_search has no embedding ops —
    positioned as a training-data curation stage over the same tables.
    """
    # assign is consumed three times (both pair sides + the final join)
    # and Catalyst never dedupes common subplans — pin it once.
    assign = ivf_assign(corpus, centroids, id_col, vec_col, round_digits).cache()
    v = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        norm_col(F.col(vec_col)).alias("vn"),
    )
    m = assign.join(v, "vec_id")
    a = m.select(
        F.col("vec_id").alias("id_a"), "cid",
        F.col("v").alias("va"), F.col("vn").alias("na"),
    )
    b = m.select(
        F.col("vec_id").alias("id_b"), "cid",
        F.col("v").alias("vb"), F.col("vn").alias("nb"),
    )
    cos = F.round(
        dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        round_digits,
    )
    dup = (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= F.lit(threshold))
    )
    dropped = dup.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("kept_by"), F.max("cos").alias("max_cos")
    )
    return assign.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cid",
        F.col("kept_by").isNull().alias("keep"),
        "kept_by",
        "max_cos",
    )


def hyperplane_planes(
    spark, n_planes: int = 64, dim: int = 64
) -> DataFrame:
    """Deterministic random-hyperplane table (p, j, s∈{−1,+1}): signs
    from the md5-derived h60 of 'hp:p:j', so Spark and any SQL twin
    materialize the identical matrix with no literal shipping. Small
    (n_planes·dim rows) → broadcast to the signature join."""
    from .hashing import h60

    planes = spark.range(n_planes).select(F.col("id").cast("int").alias("p"))
    dims = spark.range(dim).select(F.col("id").cast("int").alias("j"))
    pj = planes.crossJoin(dims)
    sign = F.when(
        h60(
            F.concat(F.lit("hp:"), F.col("p").cast("string"), F.lit(":"),
                     F.col("j").cast("string"))
        ) % 2 == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    return pj.select("p", "j", sign.alias("s"))


def random_projection(
    corpus: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    exact: bool = False,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with deterministic
    ±1 signs (the Achlioptas construction): y_p = (Σ_j s(p,j)·x_j) /
    sqrt(out_dim), signs from the same md5-derived matrix as
    :func:`hyperplane_planes`.

    Exactness: components floor to integer micros FIRST, so each output
    coordinate is a signed BIGINT sum (immune to float summation order —
    the dot is exact at any parallelism on any engine); one double
    division at the end, pinned rounding. IEEE sqrt is correctly rounded,
    so the denominator is engine-identical for any out_dim.

    Output: (vec_id, p, y) flat rows — feed to groupBy-collect or keep
    flat for downstream distance ops. ``exact=True`` returns the raw
    signed sums (vec_id, p, sm) with NO division: y = sm/(10⁶·√out_dim)
    lands exactly on a decimal half-boundary whenever sm ≡ 2 (mod 4)
    for out_dim=16 — 25% of rows — and engines tie-break those
    differently, so cross-engine verification must compare sm, not y.
    Scale: corpus·dim rows join a broadcast out_dim·dim sign matrix,
    then one (vec_id, p) hash aggregate with map-side combine; the
    classic cheap first step before ANN when dim is large."""
    spark = corpus.sparkSession
    planes = hyperplane_planes(spark, n_planes=out_dim, dim=dim)
    flat = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(vec_col).alias("j", "x"),
    ).select(
        "vec_id",
        "j",
        F.floor(F.col("x").cast("double") * F.lit(1_000_000.0))
        .cast("long")
        .alias("m"),
    )
    proj = (
        flat.join(F.broadcast(planes), "j")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("s").cast("long") * F.col("m")).alias("sm"))
    )
    if exact:
        return proj.select("vec_id", "p", "sm")
    denom = F.lit(1_000_000.0) * F.sqrt(F.lit(float(out_dim)))
    return proj.select(
        "vec_id",
        "p",
        F.round(F.col("sm").cast("double") / denom, round_digits).alias("y"),
    )


def hyperplane_lsh_pairs(
    emb: DataFrame,
    n_planes: int = 64,
    band_bits: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs via random-hyperplane LSH (the
    SimHash construction for real vectors): signature bit p =
    sign(v · hp_p), bits grouped into (n_planes / band_bits) bands,
    candidates = pairs sharing any band key, then EXACT cosine on the
    candidates only, thresholded. Returns (id_a, id_b, cos) with
    id_a < id_b, cos rounded to 6.

    Scale shape: signatures are one flatten + one broadcast join + one
    (id, band) aggregate — cost ∝ corpus·dim·n_planes; the candidate
    self-join is banded-bucket-bounded like dedup.lsh_candidate_pairs,
    never all-pairs. Angular miss probability for a pair at cosine c is
    (1 − (1 − acos(c)/π)^band_bits)^n_bands — ~3·10⁻⁴ per band for
    random 64-dim pairs at the defaults, so candidate volume stays
    ∝ true near-dups."""
    if n_planes % band_bits != 0:
        raise ValueError("band_bits must divide n_planes")
    spark = emb.sparkSession
    dim = len(emb.select(vec_col).first()[0])
    hp = hyperplane_planes(spark, n_planes, dim)
    flat = emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(vec_col).alias("j", "v"),
    )
    sig = (
        flat.join(F.broadcast(hp), "j")
        .groupBy("vid", "p")
        .agg((F.sum(F.col("v").cast("double") * F.col("s")) >= 0).alias("bit"))
    )
    bands = sig.groupBy(
        "vid", (F.col("p") / band_bits).cast("int").alias("band")
    ).agg(
        F.sum(
            F.when(
                F.col("bit"),
                # shiftleft needs a literal count in the Python API; the
                # SQL form takes the per-row bit position
                F.expr(f"shiftleft(1L, p % {band_bits})"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("key")
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "key"])
        .where(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )
    fa = flat.select(F.col("vid").alias("id_a"), "j", F.col("v").alias("va"))
    fb = flat.select(F.col("vid").alias("id_b"), "j", F.col("v").alias("vb"))
    dots = (
        cand.join(fa, "id_a")
        .join(fb, ["id_b", "j"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("va").cast("double") * F.col("vb").cast("double")).alias("dot"))
    )
    norms = flat.groupBy("vid").agg(
        F.sqrt(F.sum(F.col("v").cast("double") * F.col("v").cast("double"))).alias("nrm")
    )
    out = (
        dots.join(norms.withColumnsRenamed({"vid": "id_a", "nrm": "na"}), "id_a")
        .join(norms.withColumnsRenamed({"vid": "id_b", "nrm": "nb"}), "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos"),
        )
    )
    return out.where(F.col("cos") >= threshold)


def scalar_quantize(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: int = 256,
) -> DataFrame:
    """Per-dimension scalar quantization (the int8 compression every
    billion-vector ANN index applies before IVF/HNSW): map each value to
    ``floor((v - dmin) * (codes-1) / (dmax - dmin))`` with per-dimension
    [dmin, dmax] learned from the corpus; a constant dimension
    (dmax == dmin) quantizes to 0. Returns one row per (id, pos) with
    the code and the dimension's range so callers can dequantize
    (``dmin + code * (dmax - dmin) / (codes - 1)``).

    Determinism: min/max are comparison aggregates (order-free) and the
    quantize expression is one fixed IEEE-double evaluation per value —
    identical at any parallelism, clamped into [0, codes-1] against the
    one-ulp overshoot of x*(codes-1)/x. Shape at scale: a 2·dims-row
    stats table broadcast onto the flattened corpus — one explode, one
    tiny agg, zero corpus shuffles (partial agg absorbs the explode).
    """
    if codes < 2:
        raise ValueError(f"codes must be >= 2, got {codes}")
    flat = emb.select(
        F.col(id_col).alias("id"), F.posexplode(vec_col).alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    stats = flat.groupBy("pos").agg(
        F.min("v").alias("dmin"), F.max("v").alias("dmax")
    )
    top = F.lit(codes - 1)
    code = F.when(F.col("dmax") == F.col("dmin"), F.lit(0)).otherwise(
        F.least(
            top,
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("v") - F.col("dmin")) * top / (F.col("dmax") - F.col("dmin"))
                ),
            ),
        )
    )
    return flat.join(F.broadcast(stats), "pos").select(
        "id", "pos", code.cast("long").alias("code"), "dmin", "dmax"
    )


# ---------------------------------------------------- product quantization


def _micros(vec: Column) -> Column:
    """array<float> -> array<long> integer micros: floor(x * 1e6).
    floor (not round) so Spark and any SQL twin agree bit-for-bit, and
    all downstream distance arithmetic is EXACT bigint — immune to
    float summation order at any parallelism."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * 1_000_000.0).cast("long"))


def pq_codebooks(
    corpus: DataFrame,
    m_sub: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: (sub, code, cv) with ``cv`` the
    sub-vector in integer micros, ``sub`` in [0, m_sub), ``code`` in
    [1, n_codes].

    Seeds are the n_codes lowest-id vectors' sub-slices — the same
    deterministic seeding contract as :func:`ivf_centroids` (swap in a
    Lloyd refinement per subspace exactly as :func:`kmeans_centroids`
    does for IVF if recall needs it; encode/search only consume
    (sub, code, cv)). The codebook is m_sub*n_codes rows — broadcast
    state, like every quantizer table in this module.
    """
    dim = len(corpus.select(vec_col).first()[0])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sd = dim // m_sub
    seeds = (
        corpus.orderBy(F.asc(id_col))
        .limit(n_codes)
        .select(
            F.row_number().over(W.orderBy(F.asc(id_col))).alias("code"),
            _micros(F.col(vec_col)).alias("mv"),
        )
    )
    subs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("mv", s * sd + 1, sd).alias("cv"),
                )
                for s in range(m_sub)
            ]
        )
    )
    return seeds.select("code", subs.alias("sc")).select("sc.sub", "code", "sc.cv")


def _sq_l2(a: Column, b: Column) -> Column:
    """Exact squared L2 between two integer-micros arrays (bigint sum —
    associative, order-free)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m_sub: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode every vector: (id, sub, code) — nearest codebook entry
    per subspace under exact integer-micros squared L2, ties broken by
    code asc (total order, cross-engine stable).

    ZERO-shuffle plan: the whole codebook (m_sub*n_codes rows) is folded
    into ONE array column and broadcast-cross-joined onto the corpus, and
    each subspace's argmin is an ``array_min`` over structs — order-free,
    so the nondeterministic collect_list order cannot perturb it. The
    executed plan is scan -> broadcast join -> project -> explode: no
    Exchange at any corpus size (vs the naive explode + groupBy-argmin,
    which shuffles corpus x m_sub rows). Storage: codes are
    m_sub * ceil(log2(n_codes)) bits per vector vs 32*dim — the 100 TB
    memory story for billion-vector indexes.
    """
    dim = len(corpus.select(vec_col).first()[0])
    sd = dim // m_sub
    cbarr = codebooks.groupBy().agg(
        F.collect_list(F.struct("sub", "code", "cv")).alias("cb")
    )
    flat = corpus.select(
        F.col(id_col).alias("id"), _micros(F.col(vec_col)).alias("mv")
    ).crossJoin(F.broadcast(cbarr))

    def best_code(s):
        sv = F.slice("mv", s * sd + 1, sd)
        cands = F.filter("cb", lambda c: c.sub == F.lit(s))
        scored = F.transform(
            cands, lambda c: F.struct(_sq_l2(sv, c.cv).alias("d2"), c.code.alias("code"))
        )
        return F.array_min(scored).code

    codes = F.array(*[best_code(s) for s in range(m_sub)])
    return flat.select("id", F.posexplode(codes).alias("sub", "code"))


def _adc_table(
    queries: DataFrame,
    codebooks: DataFrame,
    m_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query ADC distance table (query_id, sub, code, d2): exact
    integer-micros squared L2 between each query sub-slice and every
    codeword — m_sub * n_codes rows per query, tiny and broadcastable."""
    dim = len(queries.select(vec_col).first()[0])
    sd = dim // m_sub
    subs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("mv", s * sd + 1, sd).alias("sv"),
                )
                for s in range(m_sub)
            ]
        )
    )
    qflat = (
        queries.select(F.col(id_col).alias("query_id"), _micros(F.col(vec_col)).alias("mv"))
        .select("query_id", subs.alias("sc"))
        .select("query_id", "sc.sub", "sc.sv")
    )
    return qflat.join(F.broadcast(codebooks), "sub").select(
        "query_id", "sub", "code", _sq_l2(F.col("sv"), F.col("cv")).alias("d2")
    )


def pq_search(
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_sub: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: for each query, distance to a
    corpus vector is the sum over subspaces of the exact integer-micros
    squared L2 between the query's sub-slice and the vector's ASSIGNED
    codeword. Returns (query_id, neighbor_id, adc_d2) with
    (adc_d2 asc, neighbor_id asc) ranking — a total order.

    Scale shape: the per-query distance TABLE (m_sub * n_codes rows per
    query) is computed once against the broadcast codebook, then joined
    onto the codes by (sub, code) — corpus-side work is one lookup per
    stored code, never a vector arithmetic op; the final top-k is a
    per-query window (TakeOrderedAndProject shape).
    """
    dtab = _adc_table(queries, codebooks, m_sub, id_col, vec_col)
    scored = (
        codes.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(dtab), ["sub", "code"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adc_d2")
    )


def ivfpq_search(
    queries: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    m_sub: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-PQ: the billion-vector index architecture (FAISS IVFPQ,
    Jegou et al., TPAMI'11) as a composition of the two pieces above —
    probe the query's ``nprobe`` nearest inverted lists (coarse
    quantizer), then score ONLY those lists' members by PQ asymmetric
    distance against the broadcast per-query table. Query-time corpus
    work touches m_sub small-int codes per candidate, never a stored
    float vector: at 10^12 vectors the scan reads the code table
    (m_sub bytes/vector) partition-pruned on cid, and no full-precision
    read happens anywhere. Returns (query_id, neighbor_id, adc_d2),
    (adc_d2 asc, neighbor_id asc) total order.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm_col(F.col(vec_col)).alias("qn"),
    )
    qcos = F.round(
        dot_col(F.col("qv"), F.col("cv")) / (F.col("qn") * norm_col(F.col("cv"))),
        round_digits,
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cid"))
    probed = (
        q.join(F.broadcast(centroids))
        .select("query_id", "cid", qcos.alias("qcos"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "cid")
    )
    dtab = _adc_table(queries, codebooks, m_sub, id_col, vec_col)
    cand = codes.withColumnRenamed("id", "neighbor_id").join(
        assignments.withColumnsRenamed({"vec_id": "neighbor_id"}), "neighbor_id"
    )
    scored = (
        cand.join(F.broadcast(probed), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(dtab), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adc_d2")
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam_e6: int = 700_000,
    qid_col: str = "query_id",
    id_col: str = "id",
    rel_col: str = "rel_e6",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) of a BOUNDED per-query candidate set: greedily emit k items,
    each maximizing  lam·relevance − (1−lam)·max-similarity-to-already-
    selected  — the standard diversification pass after retrieval.

    Contract: ``candidates`` is the OUTPUT of a distributed top-N stage
    (e.g. :func:`cosine_topk` / :func:`ivf_search`), so each query
    group is small (N ≲ a few hundred); the greedy loop is inherently
    sequential per query, which makes this the documented
    ``applyInPandas`` slot (per-group imperative logic Spark lacks) —
    the only shuffle is the per-query grouping the retrieval stage
    already produced. Nothing corpus-sized reaches this operator.

    Exactness: relevance arrives as integer micros (``rel_e6``);
    pairwise similarity is the exact int64 dot of integer-micros
    components floor-divided by 10⁶ (comparable to rel_e6 when vectors
    are unit-normalized, as the fixture embeddings are); every score is
    an integer, ties break on smallest id — bit-deterministic at any
    partitioning (asserted in pytest, with a pure-python greedy
    replay). Greedy selection for general k is non-SQL-expressible, but
    for FIXED k the loop unrolls into one CTE stage per step — the
    ``search_mmr`` gate entry value-hashes this operator against a
    three-stage unrolled DuckDB oracle at k=3 (pytest covers general k).
    """
    import numpy as np
    import pandas as pd

    lo = int(lam_e6)
    hi = 1_000_000 - lo
    kk = int(k)

    out_schema = (
        f"{qid_col} long, {id_col} long, rank int, score_e6 long"
    )

    def _mmr(pdf: "pd.DataFrame") -> "pd.DataFrame":
        qid = int(pdf[qid_col].iloc[0])
        ids = pdf[id_col].astype("int64").to_numpy()
        rel = pdf[rel_col].astype("int64").to_numpy()
        vecs = np.stack(
            [
                np.floor(np.asarray(v, dtype="float64") * 1_000_000).astype(
                    "int64"
                )
                for v in pdf[vec_col]
            ]
        )
        order = np.lexsort((ids,))  # canonical order: id asc
        ids, rel, vecs = ids[order], rel[order], vecs[order]
        n = len(ids)
        alive = np.ones(n, dtype=bool)
        # running max similarity to the selected set, in micros
        maxsim = np.full(n, np.iinfo("int64").min, dtype="int64")
        out_rows = []
        for step in range(1, min(kk, n) + 1):
            pen = np.where(maxsim == np.iinfo("int64").min, 0, maxsim)
            score = lo * rel - hi * pen
            score[~alive] = np.iinfo("int64").min
            best = int(np.argmax(score))  # ties: first = smallest id
            out_rows.append(
                (qid, int(ids[best]), step, int(score[best] // 1_000_000))
            )
            alive[best] = False
            dots = vecs @ vecs[best]  # exact int64
            sims = dots // 1_000_000  # floor toward -inf, pinned
            maxsim = np.maximum(maxsim, sims)
        return pd.DataFrame(
            out_rows, columns=[qid_col, id_col, "rank", "score_e6"]
        )

    return candidates.groupBy(qid_col).applyInPandas(_mmr, out_schema)


# ---------------------------------------------- late-interaction MaxSim


def maxsim_topk(
    corpus: DataFrame,
    query: DataFrame,
    n_sub: int = 8,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) top-k retrieval.

    Both the query and every corpus vector are viewed as ``n_sub``
    contiguous sub-vectors ("token embeddings"); the relevance of a doc
    is  Σ_{q_i} max_{d_j} <q_i, d_j>  — each query token matches its
    best-matching doc token, and the per-token maxima are summed.

    Pinned for exact cross-engine replay: components are floored to
    integer micros first (:func:`_micros`), so every dot product and the
    final score are EXACT int64 arithmetic — no float summation order
    anywhere (|c| ≤ ~1 → per-dot ≤ 8·10¹², score ≤ ~10¹⁴, well inside
    int64).

    Scale shape: the single-row query broadcasts; the n_sub² token-pair
    interaction runs entirely INSIDE each corpus row as nested array
    lambdas (zip_with dot → array_max → aggregate sum) — zero shuffle,
    zero explode, no per-row Python; the only exchange in the plan is
    the final TakeOrderedAndProject. At 10^12 vectors this composes with
    the IVF list pruning above (retrieve lists, then MaxSim-score the
    survivors).

    Contract: ``n_sub`` must divide the vector length — the sub-vector
    width is ``size div n_sub``, so a non-divisor would silently ignore
    the trailing ``size mod n_sub`` components (the same rule as
    pq_codebooks' m_sub)."""
    qm = query.select(_micros(F.col(vec_col)).alias("_qm")).limit(1)
    c = corpus.select(F.col(id_col), _micros(F.col(vec_col)).alias("_dm")).crossJoin(
        F.broadcast(qm)
    )

    def subs(col: str) -> str:
        return (
            f"transform(sequence(0, {n_sub - 1}), "
            f"si -> slice({col}, si * (size({col}) div {n_sub}) + 1, "
            f"size({col}) div {n_sub}))"
        )

    score = (
        "aggregate("
        f"  transform({subs('_qm')}, q -> array_max(transform({subs('_dm')},"
        "     d -> aggregate(zip_with(q, d, (x, y) -> x * y),"
        "                    CAST(0 AS BIGINT), (acc, v) -> acc + v)))),"
        "  CAST(0 AS BIGINT), (acc2, v2) -> acc2 + v2)"
    )
    scored = c.select(F.col(id_col), F.expr(score).alias("score"))
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def ivf_upsert(
    base_assign: DataFrame,
    changed_vectors: DataFrame,
    deleted_ids: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Incremental view maintenance for the IVF assignment table under
    vector churn: nearest-centroid assignment (:func:`ivf_assign`) is
    recomputed ONLY for the changed-vector batch, deleted ids are
    dropped, everything else is kept — the result equals a full
    recompute over the updated corpus (the oracle), but the
    centroid-scoring pass runs over the batch alone.

    A delete that also appears in the batch wins (the vector is gone).
    ``deleted_ids`` carries a ``vec_id`` column; ``base_assign`` is the
    (vec_id, cid) table :func:`ivf_assign` produces. Centroids are the
    coarse quantizer and stay fixed; re-training them is a separate
    (rare) kmeans_centroids job, after which assignments rebuild fully.

    Scale: base is touched by one anti-join on id — partition-prunable
    when the assignment table lives in a BucketedTable keyed on vec_id
    (only buckets containing doomed ids rewrite); batch cost ∝ diff,
    never corpus. The vector-index twin of ``dedup.minhash_upsert`` and
    ``correlate.incremental_correlations``."""
    fresh = ivf_assign(
        changed_vectors, centroids, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits,
    )
    doomed = (
        changed_vectors.select(F.col(id_col).alias("vec_id"))
        .unionByName(deleted_ids.select(F.col("vec_id")))
        .distinct()
    )
    kept = base_assign.join(doomed, "vec_id", "left_anti")
    return kept.unionByName(
        fresh.join(deleted_ids.select("vec_id"), "vec_id", "left_anti")
    )


def ranking_recall(
    truth: DataFrame,
    cand: DataFrame,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of a candidate ranking against a ground-truth
    ranking: (query, n_truth, n_hit, recall_e6) — the evaluation half
    of the ANN stack, as a replayable operator a pipeline can gate
    deployments on.

    Exact arithmetic: recall_e6 = n_hit·1e6 DIV n_truth. Every query in
    ``truth`` appears in the output (zero hits → recall 0).

    Plan: one equi-join on (query, id) + two query-keyed aggregates —
    both inputs are top-k tables (rows = queries × k), so this costs
    nothing next to the rankings it evaluates.
    """
    t = truth.select(F.col(query_col).alias("_q"), F.col(id_col).alias("_n"))
    c = cand.select(F.col(query_col).alias("_q"), F.col(id_col).alias("_n"))
    base = t.groupBy("_q").agg(F.count("*").cast("long").alias("n_truth"))
    hits = (
        t.join(c, ["_q", "_n"])
        .groupBy("_q")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    return (
        base.join(hits, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            "n_truth",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.expr("coalesce(n_hit, 0) * 1000000 div n_truth")
            .cast("long")
            .alias("recall_e6"),
        )
    )


def ranking_metrics(
    ranking: DataFrame,
    qrels: DataFrame,
    k: int,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-AWARE retrieval evaluation against binary qrels: per query
    precision@k, recall@k and reciprocal rank, all in exact integer
    micros (`x_e6 = value * 1e6`, DIV semantics — no floats, replayable
    cross-engine). Complements :func:`ranking_recall`, which is
    set-based and rank-blind.

    ``ranking`` must carry a 1-based ``rank_col`` (the evaluated
    system's order); ``qrels`` is (query, id) relevant pairs. Every
    query present in ``qrels`` appears in the output — a system that
    returned nothing for a query scores zeros, it does not vanish.

    Plan: one equi-join of two top-k-sized tables + two query-keyed
    aggregates — evaluation cost is rankings-sized, never corpus-sized.
    """
    r = ranking.select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_n"),
        F.col(rank_col).cast("long").alias("_r"),
    ).where(F.col("_r") <= k)
    rel = qrels.select(
        F.col(query_col).alias("_q"), F.col(id_col).alias("_n")
    ).distinct()
    nrel = rel.groupBy("_q").agg(F.count("*").cast("long").alias("n_rel"))
    hit = (
        r.join(rel, ["_q", "_n"])
        .groupBy("_q")
        .agg(
            F.count("*").cast("long").alias("n_hit"),
            F.min("_r").alias("first_rank"),
        )
    )
    return (
        nrel.join(hit, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            "n_rel",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.expr(f"coalesce(n_hit, 0) * 1000000 div {int(k)}")
            .cast("long")
            .alias("p_e6"),
            F.expr("coalesce(n_hit, 0) * 1000000 div n_rel")
            .cast("long")
            .alias("recall_e6"),
            F.coalesce(
                F.expr("1000000 div first_rank"), F.lit(0)
            ).cast("long").alias("rr_e6"),
        )
    )


# ------------------------------------------------- k-means|| seeding


def kmeanspp_oversample(
    corpus: DataFrame,
    ell: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "kmpp",
) -> DataFrame:
    """(cand_id, weight) — k-means|| oversampling initialization
    (Bahmani, Moseley, Vattani, Kumar & Vassilvitskii, VLDB'12): start
    from one seed, then for a few rounds sample each point with
    probability ∝ ℓ·d²(x, C)/φ(C) and add the draws to the center
    set; finish by weighting every candidate with the size of its
    nearest-neighbor cell. The candidate set (≈ ℓ·rounds points)
    replaces k-means++'s k SEQUENTIAL corpus passes with O(rounds)
    passes — THE published distributed seeding — and feeds
    :func:`kmeans_centroids` as a drop-in better seed than first-m.

    Every decision is exact integer arithmetic so any SQL twin replays
    bit-for-bit and the draw is identical at any parallelism:

    * vectors quantize once to integer micros (``_micros`` — the PQ
      contract); d² is an exact BIGINT component sum;
    * φ = exact BIGINT sum of per-point minima;
    * the Bernoulli draw ``u < ℓ·d²/φ`` is the cross-multiplied
      integer comparison ``h60(id:round:salt) · φ < ℓ · d² · 2⁶⁰``
      evaluated in DECIMAL(38,0)/HUGEINT (max magnitude ~1e37 at
      10⁴-vector diagnostic scale; at larger N divide both sides by a
      power of two first — the comparison is scale-free);
    * already-chosen centers have d² = 0 and can never re-select;
      ties in the final assignment break (d² ASC, cand_id ASC).

    Scale shape per round: one component-grain equi-join on the
    dimension index against the (tiny, checkpointed) center set —
    broadcast hash join, NO nested-loop anywhere — one (point, center)
    hash aggregate with full map-side combine, one point-keyed min,
    one scalar φ aggregate. Center state is eagerly checkpointed per
    round (the iterative-lineage discipline).
    """
    if ell < 1:
        raise ValueError(f"ell must be >= 1, got {ell}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    from .hashing import h60

    TWO60 = 1 << 60
    vm = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        _micros(F.col(vec_col)).alias("v"),
    )
    flat = vm.select(
        "vec_id", F.posexplode("v").alias("i", "m")
    )
    centers = (
        vm.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
        .localCheckpoint(eager=True)
    )

    def dists(cent: DataFrame) -> DataFrame:
        cflat = cent.select(
            F.col("cand_id"), F.posexplode("cv").alias("i", "cm")
        )
        return (
            flat.join(F.broadcast(cflat), "i")
            .groupBy("vec_id", "cand_id")
            .agg(
                F.sum(
                    (F.col("m") - F.col("cm")) * (F.col("m") - F.col("cm"))
                ).alias("d2")
            )
        )

    for r in range(1, rounds + 1):
        dmin = dists(centers).groupBy("vec_id").agg(F.min("d2").alias("d2"))
        phi = dmin.agg(F.sum("d2").cast("long").alias("phi"))
        drawn = (
            dmin.crossJoin(F.broadcast(phi))
            .where(F.col("phi") > 0)
            .select(
                "vec_id",
                "d2",
                "phi",
                h60(
                    F.concat(
                        F.col("vec_id").cast("string"),
                        F.lit(f":{r}:{salt}"),
                    )
                ).alias("h"),
            )
            .where(
                F.expr(
                    "cast(h as decimal(38,0)) * cast(phi as decimal(38,0)) "
                    f"< cast({ell} as decimal(38,0)) "
                    "* cast(d2 as decimal(38,0)) "
                    f"* cast({TWO60} as decimal(38,0))"
                )
            )
            .select("vec_id")
        )
        new = vm.join(drawn, "vec_id", "left_semi").select(
            F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")
        )
        centers = centers.unionByName(new).localCheckpoint(eager=True)

    from pyspark.sql import Window as W

    d = dists(centers)
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cand_id"))
    )
    assign = d.withColumn("_rn", rn).where(F.col("_rn") == 1)
    return assign.groupBy("cand_id").agg(
        F.count("*").cast("long").alias("weight")
    )


def matryoshka_overlap(
    vectors: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(dim, query_id, n_overlap) — MATRYOSHKA truncation evaluation
    (Kusupati et al. NeurIPS'22: MRL embeddings are served at prefix
    dimensions; the deployment question is how much top-k agreement a
    d-dim prefix retains vs the full vector). For every ``d`` in
    ``dims``: run the SAME exact brute-force cosine top-k
    (:func:`cosine_topk` — rounded-score + id tie-break total order)
    on prefix-sliced vectors, and count its agreement with the
    full-dimension top-k per query (0..k; zero-overlap queries kept).

    This is the capacity curve that picks the serving dimension — the
    vector-store bytes/recall trade measured exactly, in one plan per
    dimension over the same broadcast query set. The prefix slice is a
    projection; nothing about the index machinery changes, which is
    precisely MRL's operational appeal."""
    if not dims:
        raise ValueError("dims must be non-empty")
    if any(d < 1 for d in dims):
        raise ValueError(f"dims must be >= 1, got {dims}")
    full = cosine_topk(vectors, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    outs = []
    for d in sorted(set(dims)):
        tv = vectors.select(
            F.col(id_col), F.slice(vec_col, 1, d).alias(vec_col)
        )
        tq = queries.select(
            F.col(id_col), F.slice(vec_col, 1, d).alias(vec_col)
        )
        top_d = cosine_topk(tv, tq, k, id_col, vec_col).select(
            "query_id", "neighbor_id", F.lit(1).alias("_hit")
        )
        per_q = (
            full.join(top_d, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_overlap")
            )
            .select(F.lit(d).cast("long").alias("dim"), "query_id", "n_overlap")
        )
        outs.append(per_q)
    from functools import reduce

    return reduce(DataFrame.unionByName, outs)

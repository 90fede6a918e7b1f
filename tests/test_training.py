"""Tests for the training-data pipeline operators (dedup / similarity /
textstats / multimodal) against small hand-built inputs and NumPy
oracles."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_search_spark.training import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def small_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup
        (4, "completely different content about spark pipelines here"),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates(small_docs):
    out = {r["id"]: r for r in dedup.exact_duplicates(small_docs).collect()}
    assert out[2]["canonical_id"] == 1 and out[2]["is_dup"]
    assert not out[1]["is_dup"]
    assert not out[3]["is_dup"]  # near dup is NOT an exact dup


def test_ngram_jaccard(small_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(small_docs, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.1 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh(small_docs):
    sigs = dedup.minhash_signatures(small_docs).cache()
    by_id = {r["id"]: r["sig"] for r in sigs.collect()}
    assert by_id[1] == by_id[2]  # identical text → identical signature
    pairs = dedup.lsh_candidate_pairs(sigs)
    got = {(r["id_a"], r["id_b"]): r["n_bands"] for r in pairs.collect()}
    assert got[(1, 2)] == 4  # all bands agree
    est = dedup.minhash_jaccard_estimate(
        sigs, pairs.select("id_a", "id_b")
    ).collect()
    est_map = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in est}
    assert est_map[(1, 2)] == 1.0


def test_simhash(small_docs):
    fps = dedup.simhash(small_docs).cache()
    by_id = {r["id"]: r["simhash"] for r in fps.collect()}
    assert by_id[1] == by_id[2]
    assert all(0 <= v < (1 << 60) for v in by_id.values())
    near = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(fps, max_hamming=10, chunks=12).collect()
    }
    assert near[(1, 2)] == 0
    # near-dup should be within a few bits; unrelated docs should not
    assert near.get((1, 3), 99) <= 10
    assert (1, 4) not in near
    # pigeonhole guard: recall hole (max_hamming >= chunks) and dropped
    # trailing bits (chunks not dividing 60) must raise, never silently miss
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(fps, max_hamming=4, chunks=4)
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_near_pairs(fps, max_hamming=3, chunks=7)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_cosine_topk_vs_numpy(emb):
    out = similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 3), k=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cos"]))
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    for qid in (0, 1, 2):
        q = vecs[qid]
        cos = {
            nid: round(float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), 6)
            for nid, v in vecs.items()
            if nid != qid
        }
        expect = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
        got_sorted = sorted(got[qid], key=lambda kv: (-kv[1], kv[0]))
        assert [n for n, _ in got_sorted] == [n for n, _ in expect]
        for (_, a), (_, b) in zip(got_sorted, expect):
            assert abs(a - b) < 1e-6


def test_ivf_search_probes_own_cluster(emb):
    cents = similarity.ivf_centroids(emb, n_centroids=4)
    assign = similarity.ivf_assign(emb, cents).cache()
    out = similarity.ivf_search(
        emb, emb.where(F.col("vec_id") < 3), cents, assign, k=3, nprobe=1
    )
    amap = {r["vec_id"]: r["cid"] for r in assign.collect()}
    rows = out.collect()
    assert len(rows) > 0
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
        # nprobe=1 → every neighbor is in the query's own cluster
        assert amap[r["neighbor_id"]] == amap[r["query_id"]]
    for q, rs in per_q.items():
        assert len(rs) <= 3


def test_kmeans_centroids_deterministic_and_recall(emb):
    """Lloyd refinement: two independent runs produce identical centroids
    (exact-DECIMAL means + pinned rounding), every centroid has dim 64,
    and ANN recall@5 vs exact cosine stays above a sanity floor."""
    c1 = similarity.kmeans_centroids(emb, n_centroids=4, iters=2)
    c2 = similarity.kmeans_centroids(emb, n_centroids=4, iters=2)
    m1 = {r["cid"]: r["cv"] for r in c1.collect()}
    m2 = {r["cid"]: r["cv"] for r in c2.collect()}
    assert m1 == m2
    assert all(len(v) == 64 for v in m1.values())

    q = emb.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    assign = similarity.ivf_assign(emb, c1)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_search(emb, q, c1, assign, k=5, nprobe=2).collect()
    }
    assert len(got & exact) / len(exact) >= 0.5


def test_textstats(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog! 42 times."), (2, "")],
        "doc_id long, text string",
    )
    tc = {r["id"]: r for r in textstats.token_counts(df).collect()}
    assert tc[1]["n_ws_tokens"] == 7
    # [the,cat,and,the,dog,!,42,times,.] → letter runs + digits + punct
    assert tc[1]["n_bpe_tokens"] == 9
    assert tc[2]["n_ws_tokens"] == 0

    qs = {r["id"]: r for r in textstats.quality_score(df).collect()}
    assert qs[1]["n_tokens"] == 7
    assert qs[1]["stopword_ratio"] == pytest.approx(3 / 7, abs=1e-6)
    assert qs[2]["score"] is not None  # empty text doesn't divide by zero

    lang = {r["id"]: r["lang_pred"] for r in textstats.lang_id(df).collect()}
    assert lang[1] == "en"
    assert lang[2] == "und"


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    fp = {r["id"]: r["fp"] for r in textstats.fingerprint(df).collect()}
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]


def test_multimodal_features(spark, corpus_df):
    from ocr_search_spark.operators.extract import extract_spans_columnar

    ext = extract_spans_columnar(corpus_df.select("doc_id", "spans"))
    media = multimodal.media_table(ext.select("doc_id", "spans"))
    feats = multimodal.decode_image_features(media)
    rows = feats.limit(50).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_bytes"] == 32
        assert 0.0 <= r["byte_mean"] <= 255.0
        assert r["phash"] >= 0
    # determinism: same refs → same features
    again = {
        r["media_ref"]: r["phash"]
        for r in multimodal.decode_image_features(media).limit(50).collect()
    }
    for r in rows:
        assert again[r["media_ref"]] == r["phash"]


def test_real_decoder_moved():
    """The PIL-gated stub was replaced in round 2 by a real dependency-
    free PNG decode path — see tests/test_png.py for its coverage."""
    assert callable(multimodal.decode_image_real)


def test_multimodal_audio_video(spark, corpus_df):
    """Byte-level parity of the audio/video decode slots: int8-sample RMS
    and zero crossings recomputed independently in numpy; frame sampling
    honors the byte-derived frame count and the every_n stride."""
    import hashlib
    import math

    import numpy as np

    from ocr_search_spark.training import multimodal as MM

    media = MM.media_table(corpus_df.select("doc_id", "spans")).limit(20).cache()
    refs = [r["media_ref"] for r in media.select("media_ref").collect()]
    assert refs

    audio = {r["media_ref"]: r for r in MM.decode_audio_features(media).collect()}
    frames = {}
    for r in MM.sample_frames(media, every_n=2).collect():
        frames.setdefault(r["media_ref"], []).append((r["frame_idx"], r["frame_hash"]))

    for ref in refs:
        p = hashlib.sha256(ref.encode()).digest()
        a = np.frombuffer(p, dtype=np.uint8)
        s = a.astype(np.int8).astype(np.float64)
        row = audio[ref]
        assert row["n_samples"] == 32
        assert abs(row["rms"] - round(math.sqrt(float((s * s).sum()) / 32), 6)) < 1e-9
        assert row["zero_crossings"] == int(((s[:-1] >= 0) != (s[1:] >= 0)).sum())
        rate = 8000 * (1 + int(a[0]) % 4)
        assert abs(row["duration_ms"] - round(32000.0 / rate, 6)) < 1e-9

        n_frames = 4 + int(a[1]) % 5
        expect = [
            (i, int.from_bytes(p[(i % 8) * 4 : (i % 8) * 4 + 4], "big"))
            for i in range(0, n_frames, 2)
        ]
        assert sorted(frames[ref]) == expect


def test_connected_components(spark):
    """Chain A~B~C merges into one cluster even though A~C was never a
    candidate pair; isolated nodes stay singletons; deterministic."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup.connected_components(nodes, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 6}


def test_char_ngrams_short_text(spark):
    """Spark sequence(1, 0) is DESCENDING — sub-n texts must yield zero
    grams, not two truncated ones, and lm scores must stay well-defined."""
    df = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, "abc"), (4, "abcd")], "doc_id long, text string"
    )
    lm = {r["gram"]: r["cnt"] for r in textstats.char_ngram_counts(df, n=3).collect()}
    assert lm == {"abc": 2, "bcd": 1}
    scores = {r["id"]: r for r in textstats.lm_quality_score(df, textstats.char_ngram_counts(df, n=3), n=3).collect()}
    assert scores[1]["n_grams"] == 0 and scores[1]["avg_logcnt"] == 0.0
    assert scores[2]["n_grams"] == 0
    assert scores[3]["n_grams"] == 1
    assert scores[4]["n_grams"] == 2


def test_ahash_tiny_images():
    """Sub-8px images must hash via nearest sampling, never NaN→0."""
    import numpy as np

    g = np.arange(16, dtype=np.float64).reshape(4, 4)
    h = multimodal.average_hash(g)
    assert h != 0
    assert h == multimodal.average_hash(g)  # deterministic
    # gradient: half the samples above the mean → mixed bits
    bits = bin(h & ((1 << 64) - 1)).count("1")
    assert 0 < bits < 64


def test_max_df_guard_kills_boilerplate_clique(spark):
    """ADVICE/VERDICT r2: a shingle shared by ~half the corpus (site
    boilerplate) must be droppable plan-side — unguarded, it alone welds
    every boilerplate pair into a quadratic candidate clique; with
    max_df it contributes nothing while genuine near-dup pairs keep
    their exact Jaccard."""
    bp = "all rights reserved terms of service apply contact us"
    rows = []
    for i in range(80):
        body = f"unique{i}a unique{i}b unique{i}c unique{i}d unique{i}e"
        rows.append((i, body + (" " + bp if i % 2 == 0 else "")))
    # one genuine near-dup pair, both carrying the boilerplate
    rows.append((900, "spark shuffles partition data across executors nightly " + bp))
    rows.append((901, "spark shuffles partition data across executors weekly " + bp))
    docs = spark.createDataFrame(rows, "doc_id long, text string").cache()

    unguarded = dedup.ngram_jaccard_pairs(docs, threshold=0.0)
    guarded = dedup.ngram_jaccard_pairs(docs, threshold=0.0, max_df=10)
    n_un, n_g = unguarded.count(), guarded.count()
    assert n_un >= (41 * 40) // 2  # the 41 bp docs form a full clique
    assert n_g < 50  # guard collapses it to real candidates only

    g_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in guarded.collect()}
    assert (900, 901) in g_pairs  # survivor: true near-dup, bp stripped
    # 7 shingles survive per doc (bp-interior grams dropped), 4 shared
    assert abs(g_pairs[(900, 901)] - 4 / 10) < 1e-12


def test_hyperplane_lsh_neardup(spark):
    """Random-hyperplane LSH: a perturbed twin is found with its exact
    cosine; orthogonal-ish vectors produce no pair; the candidate set is
    band-bounded (no all-pairs)."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=64)
    twin = base + rng.normal(scale=0.02, size=64)
    far = rng.normal(size=64)
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in twin]),
        (3, [float(x) for x in far]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]): r["cos"] for r in
           similarity.hyperplane_lsh_pairs(emb, threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    expected = float(base @ twin / (np.linalg.norm(base) * np.linalg.norm(twin)))
    assert abs(got[(1, 2)] - round(expected, 6)) < 2e-6
    import pytest as _pytest

    with _pytest.raises(ValueError):
        similarity.hyperplane_lsh_pairs(emb, n_planes=64, band_bits=10)


def test_containment_asymmetric(spark):
    """Containment finds the excerpt⊂parent pair Jaccard misses, in the
    right DIRECTION only."""
    parent = "a1 b2 c3 d4 e5 f6 g7 h8 i9 j10 k11 l12"
    excerpt = "d4 e5 f6 g7 h8 i9"
    rows = [(1, parent), (2, excerpt), (3, "x1 y2 z3 w4 v5 u6")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_small"], r["id_big"]): r["containment"] for r in
           dedup.containment_pairs(docs, threshold=0.9).collect()}
    assert got == {(2, 1): 1.0}
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert jac[(1, 2)] < 0.9  # Jaccard misses what containment catches


def test_redact_pii_and_repetition(spark):
    rows = [
        (1, "mail bob.smith@corp.io or call 555-123-4567 from 10.0.0.5 now"),
        (2, "clean text with no secrets"),
        (3, "spam spam spam spam ham"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    red = {r["id"]: r for r in textstats.redact_pii(docs).collect()}
    assert (red[1]["n_emails"], red[1]["n_phones"], red[1]["n_ips"]) == (1, 1, 1)
    assert red[1]["clean_text"] == "mail <EMAIL> or call <PHONE> from <IP> now"
    assert red[2]["clean_text"] == "clean text with no secrets"

    rep = {r["id"]: r for r in textstats.repetition_signals(docs).collect()}
    assert rep[3]["n_words"] == 5
    assert rep[3]["dup_word_frac"] == pytest.approx(3 / 5)
    assert rep[3]["top_word_frac"] == pytest.approx(4 / 5)
    assert rep[3]["dup_bigram_frac"] == pytest.approx(2 / 4)
    assert rep[4]["n_words"] == 0 and rep[4]["dup_word_frac"] == 0.0


def test_cc_pointer_jumping_on_long_chain(spark):
    """A 64-node chain: min-label propagation needs ~diameter iterations
    (raises at max_iter=10), pointer jumping converges within 10 and
    labels the whole chain with its min id; both agree on a branchy
    graph."""
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(nodes, chain, max_iter=10)
    got = {r["id"]: r["cluster_id"] for r in
           dedup.connected_components_jump(nodes, chain, max_iter=10).collect()}
    assert got == {i: 0 for i in range(n)}

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (6, 5), (8, 9), (9, 0)], "id_a long, id_b long"
    )
    nodes2 = spark.createDataFrame([(i,) for i in range(10)], "id long")
    a = {r["id"]: r["cluster_id"] for r in
         dedup.connected_components(nodes2, pairs).collect()}
    b = {r["id"]: r["cluster_id"] for r in
         dedup.connected_components_jump(nodes2, pairs).collect()}
    assert a == b
    assert a[2] == 0 and a[6] == 4 and a[3] == 3


def test_passage_dedup_coverage(spark):
    """Hand-built corpus with known interval-union coverage, k=3:

    - docs 1 & 2 share the run "a b c d" => windows (a b c)@s and
      (b c d)@s+1 duplicated in both; overlapping intervals must merge
      to ONE island of 4 covered tokens per doc (not 3+3=6).
    - doc 3 shares nothing of length 3; zero coverage.
    - doc 4 has fewer than k tokens; zero windows, still reported.
    """
    rows = [
        (1, "a b c d x y z"),          # coverage: positions 0-3 -> 4 of 7
        (2, "p q a b c d r"),          # coverage: positions 2-5 -> 4 of 7
        (3, "a b x c d y a b"),        # has "a b" but never a shared 3-gram
        (4, "t u"),                    # < k tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    inv = dedup.duplicated_passages(docs, k=3, min_docs=2).collect()
    assert len(inv) == 2  # "a b c" and "b c d"
    assert all(r["n_docs"] == 2 and r["n_occ"] == 2 for r in inv)

    stats = {r["id"]: r for r in dedup.passage_dup_stats(docs, k=3).collect()}
    assert set(stats) == {1, 2, 3, 4}
    assert (stats[1]["n_tokens"], stats[1]["dup_tokens"]) == (7, 4)
    assert (stats[2]["n_tokens"], stats[2]["dup_tokens"]) == (7, 4)
    assert stats[1]["dup_frac_e6"] == 4 * 1_000_000 // 7
    assert stats[3]["dup_tokens"] == 0 and stats[3]["dup_frac_e6"] == 0
    assert (stats[4]["n_tokens"], stats[4]["dup_tokens"]) == (2, 0)


def test_passage_dedup_disjoint_islands(spark):
    """Two separated duplicated runs in one doc must count as two
    islands (no bridging across the gap)."""
    rows = [
        (1, "a b c GAP1 GAP2 d e f"),
        (2, "a b c SOLO d e f"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r["id"]: r for r in dedup.passage_dup_stats(docs, k=3).collect()}
    # doc1: islands [0,2] and [5,7] -> 6 of 8; doc2: [0,2],[4,6] -> 6 of 7
    assert (stats[1]["n_tokens"], stats[1]["dup_tokens"]) == (8, 6)
    assert (stats[2]["n_tokens"], stats[2]["dup_tokens"]) == (7, 6)


def test_pack_sequences_contract(spark):
    """Packing = exclusive prefix sums over the salted-hash order:
    offsets are contiguous, bins respect the budget arithmetic, and the
    two-phase (bucketed) prefix sum equals the naive global one."""
    from ocr_search_spark.training import packing

    rows = [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = packing.pack_sequences(docs, budget=10).collect()
    assert len(out) == 200

    # reconstruct the naive oracle: sort by (h, id), exclusive cumsum
    from ocr_search_spark.training.hashing import h60
    hashed = docs.select(
        F.col("doc_id").alias("id"),
        h60(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))).alias("h"),
    ).collect()
    order = {r["id"]: r["h"] for r in hashed}
    toks = {i: i % 7 + 1 for i in range(200)}
    prefix = 0
    expect = {}
    for i in sorted(toks, key=lambda i: (order[i], i)):
        expect[i] = (prefix // 10, prefix % 10)
        prefix += toks[i]
    got = {r["id"]: (r["bin_id"], r["bin_offset"]) for r in out}
    assert got == expect

    with pytest.raises(ValueError):
        packing.pack_sequences(docs, budget=0)


def test_source_mix_weights(spark):
    from ocr_search_spark.training import packing

    rows = [(i, "x", "web" if i < 60 else ("code" if i < 90 else "books"))
            for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in packing.source_mix_weights(docs).collect()}
    assert out["web"]["share_e6"] == 600_000
    # uniform target share = 333333 e6; weight = tgt * total / n
    assert out["web"]["weight_e6"] == 333_333 * 100 // 60
    assert out["books"]["weight_e6"] == 333_333 * 100 // 10  # upweighted

    tgt = {"web": 0.2, "code": 0.5, "books": 0.3}
    out2 = {r["source"]: r for r in packing.source_mix_weights(docs, tgt).collect()}
    assert out2["web"]["weight_e6"] == 200_000 * 100 // 60
    assert out2["code"]["weight_e6"] == 500_000 * 100 // 30


def test_scalar_quantize_roundtrip(emb):
    """Codes replay exactly in numpy-free Python; dequantization error is
    bounded by one quantization step per dimension."""
    out = similarity.scalar_quantize(emb, codes=256).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    dims = {}
    for vid, v in vecs.items():
        for pos, x in enumerate(v):
            lo, hi = dims.get(pos, (x, x))
            dims[pos] = (min(lo, x), max(hi, x))
    assert len(out) == len(vecs) * len(dims)
    for r in out:
        x = vecs[r["id"]][r["pos"]]
        dmin, dmax = dims[r["pos"]]
        assert (r["dmin"], r["dmax"]) == (dmin, dmax)
        if dmax == dmin:
            assert r["code"] == 0
            continue
        expect = min(255, max(0, math.floor((x - dmin) * 255 / (dmax - dmin))))
        assert r["code"] == expect
        step = (dmax - dmin) / 255
        deq = dmin + r["code"] * step
        assert abs(deq - x) <= step * (1 + 1e-9)


def test_scalar_quantize_constant_dim_and_validation(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [1.0, 7.0])], "vec_id long, embedding array<float>"
    )
    rows = {(r["id"], r["pos"]): r["code"]
            for r in similarity.scalar_quantize(df, codes=4).collect()}
    assert rows[(0, 0)] == 0 and rows[(1, 0)] == 0  # constant dim -> 0
    assert rows[(0, 1)] == 0 and rows[(1, 1)] == 3  # full range -> top code
    with pytest.raises(ValueError):
        similarity.scalar_quantize(df, codes=1)


# ------------------------------------------------- product quantization


def _clustered_vecs(spark, n=120, dim=16, n_clusters=4):
    """Deterministic clustered vectors: cluster center c has coordinate
    pattern (c+1)*[1,2,...]; members add a small id-dependent jitter."""
    rows = []
    for i in range(n):
        c = i % n_clusters
        vec = [
            float((c + 1) * (j + 1)) + ((i * 31 + j * 7) % 5) * 0.01
            for j in range(dim)
        ]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_encode_shape_and_range(spark):
    from ocr_search_spark.training import similarity as SIM

    emb = _clustered_vecs(spark)
    cb = SIM.pq_codebooks(emb, m_sub=4, n_codes=8)
    assert cb.count() == 4 * 8
    codes = SIM.pq_encode(emb, cb, m_sub=4)
    per_id = codes.groupBy("id").count().collect()
    assert all(r["count"] == 4 for r in per_id) and len(per_id) == 120
    rng = codes.agg(F.min("code"), F.max("code")).collect()[0]
    assert rng[0] >= 1 and rng[1] <= 8


def test_pq_rejects_indivisible_dim(spark):
    from ocr_search_spark.training import similarity as SIM

    emb = _clustered_vecs(spark, dim=10)
    with pytest.raises(ValueError):
        SIM.pq_codebooks(emb, m_sub=4)


def test_pq_adc_recall_vs_exact_l2(spark):
    from ocr_search_spark.training import similarity as SIM

    emb = _clustered_vecs(spark).cache()
    cb = SIM.pq_codebooks(emb, m_sub=4, n_codes=8)
    codes = SIM.pq_encode(emb, cb, m_sub=4).cache()
    queries = emb.where(F.col("vec_id") < 8)
    got = SIM.pq_search(cb, codes, queries, k=5, m_sub=4).collect()
    # Same-cluster members share a codeword, so ADC cannot rank inside a
    # cluster (ties break by id — by design); the property PQ must
    # deliver is CLUSTER purity: every returned neighbor belongs to the
    # query's cluster, at distance 0 to the query's own codeword.
    for r in got:
        assert r.neighbor_id % 4 == r.query_id % 4, (
            f"query {r.query_id} got cross-cluster neighbor {r.neighbor_id}"
        )
        assert r.adc_d2 >= 0
    assert len(got) == 8 * 5
    emb.unpersist()
    codes.unpersist()


# ------------------------------------------------------ document chunking


def test_chunk_documents_boundaries(spark):
    from ocr_search_spark.training.packing import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # 10 words
    df = spark.createDataFrame(
        [(1, words), (2, "short text"), (3, "")],
        "doc_id long, text string",
    )
    out = {(r.id, r.chunk_idx): r for r in chunk_documents(df, size=4, stride=3).collect()}
    # doc 1: starts 0,3,6,9 -> 1+ceil((10-4)/3)=3 chunks? ceil(6/3)=2 -> 3 chunks
    d1 = sorted(k for k in out if k[0] == 1)
    assert d1 == [(1, 0), (1, 1), (1, 2)]
    assert out[(1, 0)].chunk_text == "w0 w1 w2 w3"
    assert out[(1, 1)].chunk_text == "w3 w4 w5 w6"
    assert out[(1, 2)].chunk_text == "w6 w7 w8 w9"
    assert all(out[k].n_words == 4 for k in d1)
    # doc 2: shorter than one window -> exactly one chunk
    assert [k for k in out if k[0] == 2] == [(2, 0)]
    assert out[(2, 0)].chunk_text == "short text" and out[(2, 0)].n_words == 2
    # doc 3: empty text -> one empty chunk, zero words
    assert out[(3, 0)].chunk_text == "" and out[(3, 0)].n_words == 0


def test_chunk_documents_overlap_covers_everything(spark):
    from ocr_search_spark.training.packing import chunk_documents

    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = chunk_documents(df, size=16, stride=12).collect()
    seen = set()
    for r in chunks:
        seen.update(r.chunk_text.split())
    assert seen == {f"t{i}" for i in range(100)}, "stride dropped words"


def test_chunk_documents_rejects_bad_params(spark):
    from ocr_search_spark.training.packing import chunk_documents

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, size=4, stride=5)
    with pytest.raises(ValueError):
        chunk_documents(df, size=0)


# ------------------------------------------- session-5 training-mix ops


def test_semantic_dedup_keep_lowest_id(spark):
    # Two tight duplicate groups + one singleton, vectors hand-built so
    # cluster assignment and cosines are unambiguous.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.01, 0.999, 0.0, 0.0]),   # near-dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),      # singleton
    ]
    emb5 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
         (3, [0.0, 0.0, 1.0, 0.0])],
        "cid int, cv array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in similarity.semantic_dedup(emb5, cents, threshold=0.95).collect()
    }
    assert len(out) == 5, "every vector must appear exactly once"
    assert out[0]["keep"] and out[2]["keep"] and out[4]["keep"]
    assert not out[1]["keep"] and out[1]["kept_by"] == 0
    assert not out[3]["keep"] and out[3]["kept_by"] == 2
    assert out[1]["max_cos"] >= 0.95
    assert out[0]["kept_by"] is None and out[0]["max_cos"] is None


def test_semantic_dedup_cross_cluster_pairs_ignored(spark):
    # Identical vectors land in the same cluster and dedup; a pair split
    # across clusters is never compared (the SemDeDup contract).
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb4 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_centroids(emb4, n_centroids=4)
    out = similarity.semantic_dedup(emb4, cents, threshold=0.0).collect()
    # orthogonal corpus, one vector per cluster: nothing to drop even at
    # threshold 0 because no cluster has 2 members
    assert all(r["keep"] for r in out)


def test_weighted_sample_is_aes_exact(spark):
    # The operator must equal the pure-python A-ES draw (max of w
    # hashes) computed independently.
    import hashlib

    rows = [(i, " ".join(["w"] * (i + 1))) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = textstats.weighted_sample(docs, k=7, max_weight=8).collect()

    def h60py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    pri = {
        i: max(h60py(f"{i}:{j}:ws") for j in range(1, min(i + 1, 8) + 1))
        for i in range(30)
    }
    expect = sorted(pri.items(), key=lambda kv: (-kv[1], kv[0]))[:7]
    assert [(r["id"], r["priority"]) for r in got] == expect
    assert all(r["weight"] == min(r["id"] + 1, 8) for r in got)


def test_weighted_sample_without_replacement_and_partition_invariance(spark):
    rows = [(i, "word " * 20) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = textstats.weighted_sample(docs, k=10).collect()
    b = textstats.weighted_sample(docs.repartition(13), k=10).collect()
    assert [r["id"] for r in a] == [r["id"] for r in b]
    assert len({r["id"] for r in a}) == 10


def test_gopher_filters_rule_boundaries(spark):
    long_good = "the " + " ".join(f"word{i}" for i in range(60))
    short = "the tiny doc"
    numeric = " ".join(["12345"] * 60)  # fails alpha ratio
    symbols = "the " + " ".join(["ok"] * 50) + " " + " ".join(["#"] * 20)
    rows = [(1, long_good), (2, short), (3, numeric), (4, symbols)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in textstats.gopher_filters(docs, min_stop_hits=1).collect()
    }
    assert out[1]["keep"]
    assert not out[2]["f_word_count"] and not out[2]["keep"]
    assert not out[3]["f_alpha"] and not out[3]["keep"]
    assert not out[4]["f_symbols"] and not out[4]["keep"]
    # flags must be computed from the ROUNDED ratios the row reports
    assert out[3]["alpha_ratio"] == 0.0 and out[1]["alpha_ratio"] > 0.9


def test_minhash_upsert_equals_full_recompute(spark):
    base_rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),
        (3, "red green blue yellow purple orange"),
        (4, "to be deleted entirely from the index"),
        (5, "changed and deleted overlapping case here"),
    ]
    truth_rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six CHANGED seven"),  # changed
        (3, "red green blue yellow purple orange"),
        # 4 deleted; 5 changed AND deleted -> delete wins
    ]
    schema = "doc_id long, text string"
    stale = spark.createDataFrame(
        [(1, base_rows[0][1]), (2, "stale old text for doc two"),
         (3, base_rows[2][1]), (4, base_rows[3][1]),
         (5, "stale text for doc five")], schema)
    base = dedup.minhash_signatures(stale, k=3, num_hashes=8)
    changed = spark.createDataFrame(
        [(2, truth_rows[1][1]), (5, "new text for five but it dies")], schema)
    deleted = spark.createDataFrame([(4,), (5,)], "id long")
    got = dedup.minhash_upsert(base, changed, deleted, k=3, num_hashes=8)
    want = dedup.minhash_signatures(
        spark.createDataFrame(truth_rows, schema), k=3, num_hashes=8)
    g = {r["id"]: r["sig"] for r in got.collect()}
    w = {r["id"]: r["sig"] for r in want.collect()}
    assert g == w


def test_tfidf_doc_similarity_exact_and_guarded(spark):
    import math

    rows = [
        (1, "apple banana cherry"),
        (2, "apple banana cherry"),        # identical -> cos 1.0
        (3, "apple banana durian"),        # shares 2 of 3 terms
        (4, "xylophone zebra quartz"),     # disjoint -> no pair row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    posts = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).groupBy("term", "doc_id").count().withColumnRenamed("count", "tf")
    out = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.tfidf_doc_similarity(posts, threshold=0.0).collect()
    }
    assert out[(1, 2)] == 1.0
    # replay the integer-micros weighting: idf_micros = floor(1e6*ln(4/df))
    def idf(df_): return math.floor(1e6 * math.log(4 / df_))
    wa = {"apple": idf(3), "banana": idf(3), "cherry": idf(2)}
    wb = {"apple": idf(3), "banana": idf(3), "durian": idf(1)}
    dot = wa["apple"] ** 2 + wa["banana"] ** 2
    na = math.sqrt(sum(v * v for v in wa.values()))
    nb = math.sqrt(sum(v * v for v in wb.values()))
    assert out[(1, 3)] == round(dot / (na * nb), 6)
    assert (1, 4) not in out and (2, 4) not in out
    # df-guard: apple+banana (df=3) dropped at max_df=2 -> pair (1,3)
    # loses its shared terms entirely
    guarded = {
        (r["id_a"], r["id_b"])
        for r in dedup.tfidf_doc_similarity(posts, max_df=2, threshold=0.0).collect()
    }
    assert (1, 3) not in guarded and (1, 2) in guarded


def test_random_projection_exact_and_distance_preserving(emb, spark):
    out = similarity.random_projection(emb, out_dim=16, dim=64)
    rows = out.collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r["vec_id"], {})[r["p"]] = r["y"]
    assert all(len(v) == 16 for v in by_vec.values())
    # replay one coordinate in pure python (micros + signs)
    import hashlib

    def h60py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    first = emb.orderBy("vec_id").first()
    vid, vec = first["vec_id"], first["embedding"]
    for p in (0, 7):
        sm = sum(
            (1 if h60py(f"hp:{p}:{j}") % 2 == 0 else -1)
            * math.floor(float(x) * 1e6)
            for j, x in enumerate(vec)
        )
        assert by_vec[vid][p] == round(sm / (1e6 * math.sqrt(16.0)), 6)
    # JL property (loose): squared-norm preserved within 60% for most
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    ok = 0
    ids = sorted(vecs)[:30]
    for i in ids:
        orig = float(np.dot(vecs[i], vecs[i]))
        proj = sum(y * y for y in by_vec[i].values())
        if orig > 0 and 0.4 <= proj / orig <= 1.6:
            ok += 1
    assert ok >= 24, f"JL norm preservation too weak: {ok}/30"


def test_naive_bayes_classify_exact_and_accurate(spark):
    from ocr_search_spark.training import classify

    # two clearly separable "languages" + a deterministic holdout
    rows = []
    for i in range(40):
        en = f"the cat sat on the mat and the dog ran fast {i % 3}"
        de = f"der hund lief schnell und die katze sass auf der matte {i % 3}"
        rows.append((2 * i, en, "en"))
        rows.append((2 * i + 1, de, "de"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    out = classify.nb_classify(train, test, label_col="lang").collect()
    assert len(out) == test.count()
    assert all(r["correct"] for r in out)  # separable corpus → 100%

    # exact replay of one doc's score in pure python
    tr = [(r["lang"], r["text"]) for r in train.collect()]
    toks = lambda s: [w for w in s.lower().split() if w]
    cnt: dict = {}
    for lab, tx in tr:
        for t in toks(tx):
            cnt[(lab, t)] = cnt.get((lab, t), 0) + 1
    vocab = len({t for (_, t) in cnt})
    ntok = {}
    ndoc = {}
    for lab, tx in tr:
        ndoc[lab] = ndoc.get(lab, 0) + 1
        ntok[lab] = ntok.get(lab, 0) + len(toks(tx))
    L = lambda x: math.floor(1e6 * math.log(x))
    probe = test.orderBy("doc_id").first()
    want = {}
    for lab in sorted(ndoc):
        s = L(ndoc[lab]) - L(sum(ndoc.values()))
        for t in toks(probe["text"]):
            s += L(cnt.get((lab, t), 0) + 1) - L(ntok[lab] + vocab)
        want[lab] = s
    best = max(sorted(want), key=lambda lab: want[lab])
    got = {r["id"]: r for r in out}[probe["doc_id"]]
    assert got["label_pred"] == best and got["score"] == want[best]


def test_dsir_weights_ordering_and_exact(spark):
    rows = [
        # target slice: "science"-flavored grams
        (1, "quantum physics experiment results analysis", "tgt"),
        (2, "physics experiment quantum analysis of results", "tgt"),
        (3, "experiment analysis quantum physics method", "tgt"),
        # off-target: different gram mass
        (4, "buy cheap viagra now click here winner", "raw"),
        (5, "lottery winner click now buy cheap prize", "raw"),
        # held-out probes, one of each flavor
        (6, "quantum experiment physics analysis", "raw"),
        (7, "cheap lottery click winner now", "raw"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, kind string")
    out = {
        r["id"]: r
        for r in textstats.dsir_weights(docs, F.col("kind") == "tgt").collect()
    }
    assert len(out) == 7 and all(out[i]["n_grams"] > 0 for i in out)
    # per-gram average: the science-flavored probe must outrank the spam one
    avg6 = out[6]["logratio"] / out[6]["n_grams"]
    avg7 = out[7]["logratio"] / out[7]["n_grams"]
    assert avg6 > avg7

    # exact python replay of doc 7
    grams = lambda s: [s.lower()[i : i + 3] for i in range(len(s) - 2)]
    from collections import Counter

    cr: Counter = Counter()
    ct: Counter = Counter()
    for _id, tx, kind in rows:
        cr.update(grams(tx))
        if kind == "tgt":
            ct.update(grams(tx))
    v = len(cr)
    n_r, n_t = sum(cr.values()), sum(ct.values())
    L = lambda x: math.floor(1e6 * math.log(x))
    want = sum(
        L(ct.get(g, 0) + 1) - L(n_t + v) - L(cr[g] + 1) + L(n_r + v)
        for g in grams(rows[6][1])
    )
    assert out[7]["logratio"] == want


def test_keep_best_per_cluster(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)], "id long, cluster_id long"
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7), (5, 2)], "id long, score long"
    )
    out = {r["id"]: r for r in dedup.keep_best_per_cluster(clusters, scores).collect()}
    assert len(out) == 5
    # highest score wins, tie on LOWEST id: 2 beats 3
    assert out[2]["keep"] and out[2]["kept_id"] == 2
    assert not out[1]["keep"] and out[1]["kept_id"] == 2
    assert not out[3]["keep"]
    # singletons keep themselves
    assert out[4]["keep"] and out[5]["keep"]


def test_remove_duplicated_passages(spark):
    """Removal equals a hand-computed cut: doc1/doc2 share the 8-gram
    'a b c d e f g h' (positions 0-7 and 1-8); doc3 is untouched."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "x a b c d e f g h z"),
            (3, "q w e r t y u i o p"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in dedup.remove_duplicated_passages(docs, k=8, min_docs=2).collect()
    }
    assert out[1]["kept_text"] == "i j" and out[1]["dup_tokens"] == 8
    assert out[2]["kept_text"] == "x z" and out[2]["dup_tokens"] == 8
    assert out[3]["kept_text"] == "q w e r t y u i o p"
    assert out[3]["dup_tokens"] == 0 and out[3]["n_tokens"] == 10


def test_remove_duplicated_passages_overlap_islands(spark):
    """Overlapping duplicated windows merge into ONE island (no double
    cut): two docs sharing a 9-token run yield two overlapping 8-gram
    windows [0-7] and [1-8] that must union to 9 covered tokens."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i tail1"), (2, "a b c d e f g h i tail2")],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in dedup.remove_duplicated_passages(docs, k=8, min_docs=2).collect()
    }
    assert out[1]["dup_tokens"] == 9 and out[1]["kept_text"] == "tail1"
    assert out[2]["dup_tokens"] == 9 and out[2]["kept_text"] == "tail2"


def test_bigram_collocations_pmi(spark):
    """PMI matches the closed-form count formula on a tiny corpus."""
    docs = spark.createDataFrame(
        [(1, "new york new york city"), (2, "new york is big")],
        "doc_id long, text string",
    )
    out = {
        (r["w1"], r["w2"]): r
        for r in textstats.bigram_collocations(docs, min_count=3).collect()
    }
    # tokens: 5 + 4 = 9; bigrams: 4 + 3 = 7
    # c("new york") = 3, c("new") = 3, c("york") = 3
    assert set(out) == {("new", "york")}
    r = out[("new", "york")]
    assert r["c_xy"] == 3
    expected = math.floor(1e6 * math.log((3 * 9 * 9) / (3 * 3 * 7)))
    assert r["pmi_e6"] == expected


def test_char_entropy(spark):
    """Fixed-point entropy matches the hand formula; degenerate docs
    rank correctly (uniform junk low, empty zero)."""
    docs = spark.createDataFrame(
        [(1, "aab"), (2, "aaaaaaaa"), (3, ""), (4, "AaB")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in textstats.char_entropy(docs).collect()}
    s = math.floor(1e6 * 2 * math.log(2))  # a=2; b=1 contributes 0
    expected = math.floor(1e6 * math.log(3)) - math.floor(s / 3)
    assert out[1]["entropy_e6"] == expected and out[1]["n_chars"] == 3
    assert out[2]["entropy_e6"] == 0  # single repeated char
    assert out[3]["entropy_e6"] == 0 and out[3]["n_chars"] == 0
    assert out[4]["entropy_e6"] == expected  # lowercased first


def _mmr_python_replay(rows, k, lam_e6):
    """Pure-python greedy MMR oracle over (id, rel_e6, vec) rows."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    ids = [r[0] for r in rows]
    rel = [r[1] for r in rows]
    vecs = [
        np.floor(np.asarray(r[2], dtype="float64") * 1_000_000).astype("int64")
        for r in rows
    ]
    lo, hi = lam_e6, 1_000_000 - lam_e6
    alive = set(range(len(ids)))
    maxsim = {i: None for i in alive}
    out = []
    for step in range(1, min(k, len(ids)) + 1):
        best, best_score = None, None
        for i in sorted(alive):
            pen = 0 if maxsim[i] is None else maxsim[i]
            s = lo * rel[i] - hi * pen
            if best_score is None or s > best_score:
                best, best_score = i, s
        out.append((ids[best], step, best_score // 1_000_000))
        alive.discard(best)
        for i in alive:
            sim = int(vecs[i] @ vecs[best]) // 1_000_000
            maxsim[i] = sim if maxsim[i] is None else max(maxsim[i], sim)
    return out


def test_mmr_rerank_matches_python_replay_and_diversifies(spark):
    import math

    # two tight clusters on the unit circle; relevance favours cluster A,
    # but after one A-pick the diversity penalty must pull in cluster B
    def unit(theta):
        return [float(math.cos(theta)), float(math.sin(theta))]

    cand = [
        (1, unit(0.00), 990_000),   # A
        (2, unit(0.02), 980_000),   # A
        (3, unit(0.04), 970_000),   # A
        (4, unit(1.60), 500_000),   # B
        (5, unit(1.62), 490_000),   # B
    ]
    rows = [(7, i, r, v) for (i, v, r) in cand]
    df = spark.createDataFrame(
        rows, "query_id long, id long, rel_e6 long, embedding array<float>"
    )
    got = sorted(
        [
            (r["id"], r["rank"], r["score_e6"])
            for r in similarity.mmr_rerank(df, k=4, lam_e6=500_000).collect()
        ],
        key=lambda t: t[1],
    )
    # NOTE: the operator floors float32-roundtripped components; replay
    # must see the same float32 values
    import numpy as np

    replay_rows = [
        (i, r, np.asarray(v, dtype="float32").tolist()) for (i, v, r) in cand
    ]
    want = _mmr_python_replay(replay_rows, k=4, lam_e6=500_000)
    assert got == want
    # diversification: rank 1 is the top-relevance A item, rank 2 jumps
    # to cluster B instead of the nearly-identical A runner-up (which of
    # the two B items wins depends on the exact penalty: id 5 is MORE
    # anti-similar to the A pick, outweighing its 10k lower relevance)
    assert got[0][0] == 1 and got[1][0] in (4, 5)

    # partitioning invariance
    got8 = sorted(
        [
            (r["id"], r["rank"], r["score_e6"])
            for r in similarity.mmr_rerank(
                df.repartition(8), k=4, lam_e6=500_000
            ).collect()
        ],
        key=lambda t: t[1],
    )
    assert got8 == got


def test_ivf_upsert_equals_full_recompute(spark):
    """Vector-churn IVM: stale base + batch + deletes == full recompute;
    a delete that also appears in the batch wins."""
    import numpy as np
    from ocr_search_spark.training import similarity as SIM
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-1, 1, size=(60, 8)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    ).cache()
    cents = SIM.ivf_centroids(emb, n_centroids=4)
    changed = F.col("vec_id") % 7 == 0
    stale = emb.withColumn(
        "embedding",
        F.when(changed, F.transform("embedding", lambda x: -x)).otherwise(
            F.col("embedding")
        ),
    )
    base = SIM.ivf_assign(stale, cents)
    deleted = emb.where(F.col("vec_id").isin(0, 13, 14)).select("vec_id")  # 0,14 in batch
    got = SIM.ivf_upsert(base, emb.where(changed), deleted, cents)
    exp = SIM.ivf_assign(emb.where(~F.col("vec_id").isin(0, 13, 14)), cents)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_kn_bigram_lm_hand_computed(spark):
    import pyspark.sql.functions as F
    from ocr_search_spark.training import textstats as TS

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a"), (3, "a z b")], "doc_id long, text string"
    )
    stats = TS.kn_bigram_stats(docs.where(F.col("doc_id") <= 2))
    srow = {(r["u"], r["w"]): r for r in stats.collect()}
    assert srow[("b", "a")]["c_uw"] == 2
    assert srow[("a", "b")]["c_u"] == 2 and srow[("a", "b")]["n1f"] == 2
    assert all(r["bb"] == 3 for r in srow.values())

    out = {r["id"]: r for r in TS.kn_quality_score(docs, stats).collect()}
    # doc3 "a z b": (a,z) seen-ctx/unseen-cont -> p=0.25; (z,b) unseen ctx -> 1/3
    assert out[3]["n_bigrams"] == 2
    assert out[3]["avg_logp"] == -1.242454
    # doc1: p(b|a)=p(c|a)=0.375, p(a|b)=0.75 (floors at micros)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_logp"] == -0.749781


def test_kn_counts_upsert_matches_full_recount(spark):
    import pyspark.sql.functions as F
    from ocr_search_spark.training import textstats as TS

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    changed = F.col("doc_id") % 7 == 3
    deleted = F.col("doc_id") % 11 == 5
    # after-image: changed docs get word-reversed text; deleted docs vanish
    new_corpus = (
        docs.where(~deleted)
        .withColumn(
            "text",
            F.when(
                changed,
                F.array_join(F.reverse(F.split(F.col("text"), r"\s+")), " "),
            ).otherwise(F.col("text")),
        )
    )
    stored = TS.kn_bigram_counts(docs)
    out = TS.kn_counts_upsert(
        stored,
        docs.where(changed | deleted),
        new_corpus.where(changed),
    )
    want = sorted(map(tuple, TS.kn_bigram_counts(new_corpus).collect()))
    got = sorted(map(tuple, out.collect()))
    assert got == want and len(got) > 0


def test_canonical_media_mapping_and_rewrite(spark):
    import pyspark.sql.functions as F
    from ocr_search_spark.training.multimodal import canonical_media, rewrite_media_refs

    rows = [
        (1, 0, "b.png", 7), (2, 0, "a.png", 7), (3, 1, "c.png", 7),
        (4, 0, "z.png", 9),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, offset long, media_ref string, digest long"
    )
    m = {r["digest"]: r for r in canonical_media(media).collect()}
    assert m[7]["canonical_ref"] == "a.png" and m[7]["n_copies"] == 3
    assert m[9]["canonical_ref"] == "z.png" and m[9]["n_copies"] == 1
    out = {r["media_ref"]: r for r in
           rewrite_media_refs(media.repartition(3), canonical_media(media)).collect()}
    assert out["b.png"]["is_duplicate"] and not out["a.png"]["is_duplicate"]
    assert out["z.png"]["canonical_ref"] == "z.png"


def test_lsh_params_s_curve_calibration():
    from ocr_search_spark.training.dedup import lsh_params
    import pytest

    # low threshold -> many bands of few rows; high threshold -> the
    # opposite. 16 perms: t=0.2 should give r<=2; t=0.9 should give r>=4
    b_lo, r_lo = lsh_params(0.2, 16)
    b_hi, r_hi = lsh_params(0.9, 16)
    assert r_lo <= 2 and b_lo * r_lo <= 16
    assert r_hi >= 4 and b_hi * r_hi <= 16
    # the standard 4x4 default is what a mid threshold picks at 16 perms
    assert lsh_params(0.5, 16) in [(4, 4), (5, 3), (3, 5)]
    # monotonicity of rows in threshold across a sweep
    rs = [lsh_params(t / 10, 24)[1] for t in range(1, 10)]
    assert rs == sorted(rs)
    with pytest.raises(ValueError):
        lsh_params(1.5, 16)


def test_temperature_mix_flattens_toward_uniform(spark):
    import pytest
    from ocr_search_spark.training.packing import temperature_mix_weights

    rows = [("big",)] * 900 + [("small",)] * 100
    docs = spark.createDataFrame(rows, "source string")
    out = {r["source"]: r for r in temperature_mix_weights(docs, 300_000).collect()}
    # alpha<1 upweights the rare source and downweights the common one
    assert out["small"]["weight_e6"] > 1_000_000 > out["big"]["weight_e6"]
    assert out["small"]["target_e6"] > out["small"]["share_e6"]
    # alpha=1 keeps natural proportions (weight ~ 1.0 up to div flooring)
    nat = {r["source"]: r for r in temperature_mix_weights(docs, 1_000_000).collect()}
    for s in ("big", "small"):
        assert abs(nat[s]["weight_e6"] - 1_000_000) <= 25_000
    with pytest.raises(ValueError):
        temperature_mix_weights(docs, 0)


def test_dedup_corpus_pipeline_keeps_longest_per_cluster(spark):
    from ocr_search_spark.training.dedup import dedup_corpus

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest tonight")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra tail words here"),          # near-dup of 1, longer
            (3, base.replace("quick", "swift")),            # near-dup of 1
            (4, "completely different text about spark sql window functions "
                "and shuffle partitions in a cluster deployment scenario"),
        ],
        "doc_id long, text string",
    )
    decisions, kept = dedup_corpus(docs, threshold=0.5)
    d = {r["id"]: r for r in decisions.collect()}
    # 1,2,3 cluster together; representative = longest text = doc 2
    assert d[1]["cluster_id"] == d[2]["cluster_id"] == d[3]["cluster_id"]
    assert d[1]["kept_id"] == 2 and not d[1]["keep"] and d[2]["keep"]
    assert d[4]["keep"] and d[4]["cluster_id"] != d[1]["cluster_id"]
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4]


def test_cli_dedup_subprocess(spark, tmp_path):
    """The near-dup dedup pipeline over a documents table with a planted
    near-dup: kept docs and decisions written out and read back.
    Formerly driven through a CLI subcommand; now the library call."""
    from ocr_search_spark.training.dedup import dedup_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    # plant two exact-ish near-dups of doc 0
    extra = docs.limit(1).selectExpr("doc_id + 1000 AS doc_id", "text",
                                     "lang", "source", "n_chars")
    src = str(tmp_path / "docs")
    docs.unionByName(extra).write.parquet(src)
    inp = spark.read.parquet(src)
    decisions, kept = dedup_corpus(inp, threshold=0.7)
    decisions.write.parquet(str(tmp_path / "dec"))
    kept.write.parquet(str(tmp_path / "kept"))
    n_in, n_kept = inp.count(), spark.read.parquet(str(tmp_path / "kept")).count()
    assert n_in == 51 and n_in - n_kept >= 1
    dec = spark.read.parquet(str(tmp_path / "dec"))
    assert set(dec.columns) == {"id", "cluster_id", "kept_id", "keep"}


def test_cdc_chunks_shift_resistance_and_roundtrip(spark):
    import pyspark.sql.functions as F
    from ocr_search_spark.training.packing import cdc_chunks

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")
    docs = spark.createDataFrame(
        [(1, base), (2, "INSERTED PREFIX " + base)], "doc_id long, text string"
    )
    out = cdc_chunks(docs, window=6, mask=15, min_len=10)
    rows = sorted(out.collect(), key=lambda r: (r["id"], r["chunk_idx"]))
    by = {1: [], 2: []}
    for r in rows:
        by[r["id"]].append(r)
    for i, txt in ((1, base), (2, "INSERTED PREFIX " + base)):
        assert "".join(r["chunk"] for r in by[i]) == txt.lower()
    # shift resistance: most of doc1's chunk digests reappear in doc2
    d1 = {r["digest"] for r in by[1]}
    d2 = {r["digest"] for r in by[2]}
    shared = len(d1 & d2)
    assert shared >= max(1, len(d1) - 2), (len(d1), shared)


# ----------------------------------------------------------- winnowing


def _py_winnow(text: str, k: int, w: int) -> set:
    import hashlib

    t = text.lower()
    if len(t) < k:
        return set()
    hs = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(t) - k + 1)
    ]
    out = set()
    for j in range(max(1, len(hs) - w + 1)):
        win = hs[j : j + w]
        m = min(win)
        pos = j + max(i for i, h in enumerate(win) if h == m)  # rightmost
        out.add((pos, m))
    return out


def test_winnow_matches_pure_python_replay(spark):
    from ocr_search_spark.training.textstats import winnow_fingerprints

    texts = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "xx the quick brown fox sat yy"),
        ("d3", "ab"),  # shorter than k -> no rows
        ("d4", "aaaaaaaaaaaa"),  # equal hashes -> rightmost-tie rule
        ("d5", "short"),  # fewer grams than w -> single window
    ]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    got: dict = {}
    for r in winnow_fingerprints(df, k=5, w=4).collect():
        got.setdefault(r["id"], set()).add((r["pos"], r["fp"]))
    for did, txt in texts:
        assert got.get(did, set()) == _py_winnow(txt, 5, 4), did


def test_winnow_match_guarantee_and_overlap(spark):
    from ocr_search_spark.training.textstats import (
        winnow_fingerprints,
        winnow_overlap,
    )

    k, w = 5, 4
    shared = "a very distinctive shared passage"
    df = spark.createDataFrame(
        [
            ("a", f"prefix one {shared} suffix alpha"),
            ("b", f"other beginning {shared} and a different end"),
            ("c", "nothing in common with the others at all"),
        ],
        "doc_id string, text string",
    )
    fps = winnow_fingerprints(df, k=k, w=w)
    pairs = {(r["id_a"], r["id_b"]) for r in winnow_overlap(fps).collect()}
    # any match >= w+k-1 chars must share a fingerprint
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs and ("b", "c") not in pairs


def test_winnow_overlap_max_df_guard(spark):
    from ocr_search_spark.training.textstats import (
        winnow_fingerprints,
        winnow_overlap,
    )

    df = spark.createDataFrame(
        [(f"x{i}", f"GLOBAL-FOOTER shared by every doc {i}") for i in range(6)],
        "doc_id string, text string",
    )
    fps = winnow_fingerprints(df, k=5, w=4)
    assert winnow_overlap(fps).count() == 15  # all pairs, footer-driven
    assert winnow_overlap(fps, max_df=2).count() == 0  # guard drops hot fps


# ------------------------------------------------------------ sentences


def test_sentence_split_rules(spark):
    from ocr_search_spark.training.textstats import sentences

    rows = [
        ("a", "Dr. Smith went home. He slept! Did he? Yes... e.g. naps."),
        ("b", "one sentence no punct"),
        ("c", "Mr. X vs. Mrs. Y. Round two!"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {}
    for r in sentences(df).collect():
        out.setdefault(r["id"], []).append((r["sent_idx"], r["sentence"]))
    assert [s for _, s in sorted(out["a"])] == [
        "Dr. Smith went home.", "He slept!", "Did he?", "Yes...", "e.g. naps.",
    ]
    assert out["b"] == [(0, "one sentence no punct")]
    assert [s for _, s in sorted(out["c"])] == ["Mr. X vs. Mrs. Y.", "Round two!"]


def test_sentence_abbrev_protection_is_word_anchored(spark):
    from ocr_search_spark.training.textstats import sentences

    # "best." contains "st.", "casino." contains "no." — word-interior
    # abbreviation matches must NOT suppress the boundary
    rows = [
        ("a", "He tried his best. Then he left."),
        ("b", "They met at the casino. It was loud."),
        ("c", "See the No. 1 item. Done."),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {}
    for r in sentences(df).collect():
        out.setdefault(r["id"], []).append((r["sent_idx"], r["sentence"]))
    assert [s for _, s in sorted(out["a"])] == ["He tried his best.", "Then he left."]
    assert [s for _, s in sorted(out["b"])] == ["They met at the casino.", "It was loud."]
    assert [s for _, s in sorted(out["c"])] == ["See the No. 1 item.", "Done."]


def test_readability_exact_micros(spark):
    from ocr_search_spark.training.textstats import readability

    # hand-computed: "the cat sat. the cat ran." -> W=6 S=2 Y=6
    # flesch = 206835000 - 1015000*6//2 - 84600000*6//6 = 119190000
    # fk     = 390000*6//2 + 11800000*6//6 - 15590000  = -2620000
    df = spark.createDataFrame(
        [("a", "the cat sat. the cat ran.")], "doc_id string, text string"
    )
    r = readability(df).collect()[0]
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 2, 6)
    assert r["flesch_e6"] == 119190000
    assert r["fk_grade_e6"] == -2620000
    # silent-e and floor-1 rules: "the" 1, "make" 1, "a" 1, "rhythm" 1
    df2 = spark.createDataFrame(
        [("b", "make a rhythm")], "doc_id string, text string"
    )
    r2 = readability(df2).collect()[0]
    assert r2["n_syllables"] == 3


def test_dedup_sentences_canonical_first_and_exemption(spark):
    from ocr_search_spark.training.dedup import dedup_sentences

    rows = [
        ("a", "Unique alpha sentence here. Subscribe to our newsletter today. More alpha content follows."),
        ("b", "Beta opens with this. Subscribe to our newsletter today. Beta closes differently."),
        ("c", "Subscribe to our newsletter today. Gamma remainder text."),
        ("d", "Yes. Yes. Short ones stay."),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["id"]: r for r in dedup_sentences(df).collect()}
    assert "Subscribe" in out["a"]["text"]  # canonical first occurrence
    assert "Subscribe" not in out["b"]["text"] and out["b"]["n_dropped"] == 1
    assert "Subscribe" not in out["c"]["text"] and out["c"]["n_dropped"] == 1
    assert out["d"]["text"].count("Yes.") == 2  # min_words exemption
    # order preserved after removal
    assert out["b"]["text"] == "Beta opens with this. Beta closes differently."
    # partition invariance
    a = sorted(map(tuple, dedup_sentences(df.coalesce(1)).collect()))
    b = sorted(map(tuple, dedup_sentences(df.repartition(7)).collect()))
    assert a == b
    # empty / whitespace-only docs survive the rewrite with text ""
    df2 = df.unionByName(spark.createDataFrame(
        [("empty", ""), ("blank", "   ")], "doc_id string, text string"))
    out2 = {r["id"]: r for r in dedup_sentences(df2).collect()}
    assert out2["empty"]["text"] == "" and out2["empty"]["n_dropped"] == 0
    assert out2["blank"]["text"] == "" and len(out2) == 6


# ------------------------------------------------- sorted neighborhood


def test_global_sort_rank_exact_and_partition_invariant(spark):
    df = spark.range(5000).select(
        F.md5(F.col("id").cast("string")).alias("key"),
        F.col("id").cast("string").alias("id"),
    )
    expected = {
        t: i + 1
        for i, t in enumerate(
            sorted((r["key"], r["id"]) for r in df.collect())
        )
    }
    for n_parts in (1, 3, 16):
        got = {
            (r["key"], r["id"]): r["rank"]
            for r in dedup.global_sort_rank(df, ["key", "id"], n_parts).collect()
        }
        assert got == expected, f"rank mismatch at n_parts={n_parts}"


def test_snm_finds_prefix_blocked_neardups(small_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.sorted_neighborhood_pairs(
            small_docs, id_col="doc_id", window=2, threshold=0.1
        ).collect()
    }
    # 1/2/3 share the 24-char prefix block and sort adjacently
    assert pairs[(1, 2)] == 1.0
    assert 0.1 < pairs[(1, 3)] < 1.0
    assert all(4 not in p and 5 not in p for p in pairs)


def test_snm_candidate_volume_is_window_bounded(spark):
    """A pathological hot shingle (same sentence in every doc) cannot
    blow up SNM candidates: pairs <= n * window regardless of content —
    the failure mode ngram_jaccard_pairs needs max_df for."""
    n, w = 200, 3
    hot = spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("identical boilerplate sentence repeated everywhere "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    pairs = dedup.sorted_neighborhood_pairs(
        hot, window=w, threshold=0.0
    )
    assert pairs.count() <= n * w


def test_snm_misses_divergent_prefix_by_design(spark):
    """Documented limitation: a near-dup pair whose FIRST words differ
    lands in distant blocks and is not proposed."""
    docs = spark.createDataFrame(
        [
            ("a", "zebra alpha beta gamma delta epsilon zeta eta"),
            ("b", "aardvark alpha beta gamma delta epsilon zeta eta"),
        ],
        "doc_id string, text string",
    )
    many = docs.unionByName(
        spark.range(50).select(
            F.concat(F.lit("m"), F.col("id").cast("string")).alias("doc_id"),
            F.concat(F.lit("middle filler "), F.md5(F.col("id").cast("string"))).alias(
                "text"
            ),
        )
    )
    got = dedup.sorted_neighborhood_pairs(many, window=2, threshold=0.1).collect()
    assert not any({r["id_a"], r["id_b"]} == {"a", "b"} for r in got)


# --------------------------------------------------------------- IVF-PQ


def test_ivfpq_with_full_probe_equals_pq_search(spark):
    """nprobe = n_centroids removes the IVF restriction: IVF-PQ must
    reproduce the flat ADC ranking exactly."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, n_centroids=8)
    assign = similarity.ivf_assign(emb, cents)
    cb = similarity.pq_codebooks(emb, m_sub=4, n_codes=8)
    codes = similarity.pq_encode(emb, cb, m_sub=4)
    q = emb.where(F.col("vec_id") < 5)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["adc_d2"])
        for r in similarity.ivfpq_search(
            q, cents, assign, cb, codes, k=5, nprobe=8, m_sub=4
        ).collect()
    )
    full = sorted(
        (r["query_id"], r["neighbor_id"], r["adc_d2"])
        for r in similarity.pq_search(cb, codes, q, k=5, m_sub=4).collect()
    )
    assert got == full


def test_ivfpq_candidates_restricted_to_probed_lists(spark):
    """With nprobe=1 every returned neighbor must live in the query's
    single probed list."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, n_centroids=8)
    assign = similarity.ivf_assign(emb, cents).cache()
    cb = similarity.pq_codebooks(emb, m_sub=4, n_codes=8)
    codes = similarity.pq_encode(emb, cb, m_sub=4)
    q = emb.where(F.col("vec_id") < 5)
    out = similarity.ivfpq_search(
        q, cents, assign, cb, codes, k=5, nprobe=1, m_sub=4
    )
    amap = {r["vec_id"]: r["cid"] for r in assign.collect()}
    for r in out.collect():
        assert amap[r["neighbor_id"]] == amap[r["query_id"]]


def test_ranking_metrics_exact_values(spark):
    """Hand-checkable micros: q1 perfect, q2 partial at rank 2, q3 miss."""
    ranking = spark.createDataFrame(
        [
            ("q1", "a", 1), ("q1", "b", 2),
            ("q2", "x", 1), ("q2", "a", 2), ("q2", "y", 3),
            ("q3", "x", 1),
        ],
        "query_id string, neighbor_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [("q1", "a"), ("q1", "b"), ("q2", "a"), ("q2", "b"), ("q3", "z")],
        "query_id string, neighbor_id string",
    )
    got = {
        r["query_id"]: (r["n_rel"], r["n_hit"], r["p_e6"], r["recall_e6"], r["rr_e6"])
        for r in similarity.ranking_metrics(ranking, qrels, k=2).collect()
    }
    assert got["q1"] == (2, 2, 1000000, 1000000, 1000000)
    # q2: only rank<=2 counts -> hit 'a' at rank 2
    assert got["q2"] == (2, 1, 500000, 500000, 500000)
    # q3: zero hits but still present
    assert got["q3"] == (1, 0, 0, 0, 0)


def test_filtered_ann_only_returns_eligible_neighbors(spark):
    """Pre-filter shape: every returned neighbor satisfies the metadata
    predicate, and with nprobe=all the result equals brute-force
    filtered cosine exactly."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, n_centroids=8)
    assign = similarity.ivf_assign(emb, cents)
    eligible = emb.where(F.col("label") == 3)
    assign_f = assign.join(eligible.select("vec_id"), "vec_id", "leftsemi")
    q = emb.where(F.col("vec_id") < 5)
    out = similarity.ivf_search(emb, q, cents, assign_f, k=5, nprobe=8)
    ok = {r["vec_id"] for r in eligible.select("vec_id").collect()}
    rows = out.collect()
    assert rows and all(r["neighbor_id"] in ok for r in rows)
    brute = similarity.cosine_topk(eligible, q, k=5)
    assert sorted(
        (r["query_id"], r["neighbor_id"], r["cos"]) for r in rows
    ) == sorted(
        (r["query_id"], r["neighbor_id"], r["cos"]) for r in brute.collect()
    )


def test_mixture_token_plan(spark):
    """Hand-computed budget split: floor allocation, epoch cap with the
    pinned no-redistribution rule, NULL epochs for an empty source."""
    from ocr_search_spark.training import packing

    st = spark.createDataFrame(
        [("web", 1000), ("code", 100), ("books", 0)],
        "source string, tokens long",
    )
    out = {
        r["source"]: r
        for r in packing.mixture_token_plan(
            st,
            weights=[("web", 3), ("code", 2), ("absent", 1)],
            budget=600,
            max_epochs_e6=2_000_000,
        ).collect()
    }
    # books is in the corpus but NOT declared -> excluded entirely
    assert set(out) == {"web", "code", "absent"}
    web, code, absent = out["web"], out["code"], out["absent"]
    # target = 600*w div 6
    assert (web["target_tokens"], code["target_tokens"]) == (300, 200)
    # web: 300/1000 tokens = 0.3 epochs, uncapped
    assert (web["planned_tokens"], web["epochs_e6"], web["capped"]) == (
        300, 300_000, False)
    # code: 200/100 = 2.0e6 epochs raw... exactly at cap -> NOT capped
    assert (code["planned_tokens"], code["epochs_e6"], code["capped"]) == (
        200, 2_000_000, False)
    # absent: declared but zero corpus tokens -> NULL epochs, uncapped
    assert absent["tokens"] == 0 and absent["epochs_e6"] is None
    assert absent["capped"] is False

    # cap actually binding: lower the cap below code's 2.0 epochs
    out2 = {
        r["source"]: r
        for r in packing.mixture_token_plan(
            st, weights=[("web", 3), ("code", 2), ("absent", 1)],
            budget=600, max_epochs_e6=1_500_000,
        ).collect()
    }
    c2 = out2["code"]
    # planned = 100 * 1.5e6 div 1e6 = 150; epochs replayed from planned
    assert (c2["planned_tokens"], c2["epochs_e6"], c2["capped"]) == (
        150, 1_500_000, True)
    # web unchanged; budget freed by the cap is NOT redistributed
    assert out2["web"]["planned_tokens"] == 300

    # uncapped variant keeps the raw epochs and capped=false everywhere
    out3 = {
        r["source"]: r
        for r in packing.mixture_token_plan(
            st, weights=[("web", 3), ("code", 2)], budget=600
        ).collect()
    }
    # total weight is now 5 -> code target = 600*2 div 5 = 240 tokens
    assert out3["code"]["epochs_e6"] == 2_400_000
    assert not any(r["capped"] for r in out3.values())

    import pytest as _pt
    with _pt.raises(ValueError):
        packing.mixture_token_plan(st, weights=[], budget=10)
    with _pt.raises(ValueError):
        packing.mixture_token_plan(st, weights=[("a", 1), ("a", 2)], budget=10)
    with _pt.raises(ValueError):
        packing.mixture_token_plan(st, weights=[("a", 0)], budget=10)
    with _pt.raises(ValueError):
        packing.mixture_token_plan(st, weights=[("a", 1)], budget=-1)
    with _pt.raises(ValueError):
        packing.mixture_token_plan(st, weights=[("a", 1)], budget=10,
                                   max_epochs_e6=0)


def test_domain_template_sentences(spark):
    """Per-domain furniture: 2/3 share reports, 1/3 doesn't, short
    sentences are exempt, tiny domains never report, and a doc
    repeating its own footer counts once."""
    from ocr_search_spark.training import dedup

    mk = lambda i, d, t: (i, d, t)  # noqa: E731
    rows = [
        # domain A: 3 docs; footer on 2 (one doc repeats it twice)
        mk(1, "a.com", "Unique alpha words here. Visit our great shop today. Visit our great shop today."),
        mk(2, "a.com", "Different beta content. Visit our great shop today. Ok."),
        mk(3, "a.com", "Gamma text only, no footer at all."),
        # domain B: 2 docs (< min_docs=3) with a 100% shared sentence
        mk(4, "b.com", "Shared banner sentence appears here."),
        mk(5, "b.com", "Shared banner sentence appears here."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, domain string, text string")
    out = dedup.domain_template_sentences(
        docs, min_share_e6=600_000, min_docs=3
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["domain"], r["sentence"]) == ("a.com", "visit our great shop today.")
    assert (r["df_docs"], r["domain_docs"]) == (2, 3)  # doc 1 counts ONCE
    assert r["share_e6"] == 2_000_000 // 3

    # strip: every copy of the template goes, incl. doc 1's repeat;
    # domain B is untouched; doc 3 is untouched
    tpl = dedup.domain_template_sentences(docs, min_share_e6=600_000, min_docs=3)
    stripped = {
        r["id"]: r for r in dedup.strip_domain_templates(docs, tpl).collect()
    }
    assert stripped[1]["text"] == "Unique alpha words here."
    assert stripped[1]["n_dropped"] == 2
    assert stripped[2]["text"] == "Different beta content. Ok."
    assert stripped[3]["n_dropped"] == 0
    assert stripped[4]["text"] == "Shared banner sentence appears here."
    assert len(stripped) == 5

    with pytest.raises(ValueError):
        dedup.domain_template_sentences(docs, min_share_e6=0)
    with pytest.raises(ValueError):
        dedup.domain_template_sentences(docs, min_docs=0)


# ------------------------------------------------------- LSH tuning


def _lsh_py(sims, n_hashes, t):
    def pow_e6(x, n):
        acc = x
        for _ in range(n - 1):
            acc = (acc * x) // 1_000_000
        return acc

    out = {}
    configs = [(b, n_hashes // b) for b in range(1, n_hashes + 1) if n_hashes % b == 0]
    n_pos = sum(1 for s in sims if s >= t)
    for b, r in configs:
        cand = fp = fn = pos = 0
        for s in sims:
            s = max(0, min(1_000_000, s))
            p = 1_000_000 - pow_e6(1_000_000 - pow_e6(s, r), b)
            cand += p
            if s < t:
                fp += p
            else:
                fn += 1_000_000 - p
                pos += p
        out[(b, r)] = (
            len(sims),
            n_pos,
            cand,
            fp,
            fn,
            pos // n_pos if n_pos else None,
        )
    return out


def test_lsh_tuning_matches_python_replay(spark):
    from ocr_search_spark.training.dedup import lsh_tuning

    sims = [(i * 37 % 101) * 10_000 for i in range(300)] + [1_000_000, 0, -5, 2_000_000]
    pairs = spark.createDataFrame([(s,) for s in sims], "sim_e6 long")
    got = {
        (r["bands"], r["rpb"]): (
            r["n_pairs"], r["n_pos"], r["exp_cand_e6"], r["fp_e6"], r["fn_e6"], r["recall_e6"],
        )
        for r in lsh_tuning(pairs, n_hashes=24, threshold_e6=500_000).collect()
    }
    assert got == _lsh_py(sims, 24, 500_000)
    assert len(got) == 8  # divisors of 24


def test_lsh_tuning_s_curve_monotone(spark):
    """More bands (fewer rows/band) catches more: recall rises with b,
    but so does fp — the tradeoff the table exists to show."""
    from ocr_search_spark.training.dedup import lsh_tuning

    sims = [200_000] * 50 + [800_000] * 50
    pairs = spark.createDataFrame([(s,) for s in sims], "sim_e6 long")
    rows = {r["bands"]: r for r in lsh_tuning(pairs, 16, 500_000).collect()}
    assert rows[16]["recall_e6"] > rows[1]["recall_e6"]
    assert rows[16]["fp_e6"] > rows[1]["fp_e6"]


def test_lsh_tuning_no_positives_null_recall(spark):
    from ocr_search_spark.training.dedup import lsh_tuning

    pairs = spark.createDataFrame([(100_000,), (200_000,)], "sim_e6 long")
    for r in lsh_tuning(pairs, 4, 900_000).collect():
        assert r["recall_e6"] is None and r["fn_e6"] == 0


def test_lsh_tuning_validation(spark):
    import pytest as _pytest

    from ocr_search_spark.training.dedup import lsh_tuning, lsh_pow_e6

    pairs = spark.createDataFrame([(1,)], "sim_e6 long")
    with _pytest.raises(ValueError):
        lsh_tuning(pairs, 0, 500_000)
    with _pytest.raises(ValueError):
        lsh_tuning(pairs, 4, -1)
    with _pytest.raises(ValueError):
        lsh_pow_e6("x", 0)


# -------------------------------------------------- source overlap


def _shingles_py(text, k=3):
    ws = [w for w in text.lower().split() if w]
    return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)} if len(ws) >= k else set()


def test_source_overlap_matrix_exact(spark):
    from ocr_search_spark.training.dedup import source_overlap

    docs = [
        (0, "A", "the quick brown fox jumps over the lazy dog"),
        (1, "A", "pack my box with five dozen liquor jugs"),
        (2, "B", "the quick brown fox naps all day long"),
        (3, "B", "pack my box with five dozen liquor jugs"),
        (4, "C", "completely unrelated text with no overlap at all here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    sets = {}
    for _, s, t in docs:
        sets.setdefault(s, set()).update(_shingles_py(t))
    out = {
        (r["src_a"], r["src_b"]): r
        for r in source_overlap(df, id_col="doc_id").collect()
    }
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    for (a, b), r in out.items():
        inter = len(sets[a] & sets[b])
        assert (r["n_a"], r["n_b"], r["n_common"]) == (
            len(sets[a]), len(sets[b]), inter
        )
        assert r["jaccard_e6"] == inter * 1_000_000 // len(sets[a] | sets[b])
    assert out[("A", "C")]["n_common"] == 0 and out[("A", "C")]["jaccard_e6"] == 0


def test_source_overlap_union_semantics_not_mass(spark):
    """Duplicating a doc inside one source changes nothing — overlap is
    coverage of shingle SETS, not document frequency."""
    from ocr_search_spark.training.dedup import source_overlap

    base = [
        (0, "X", "one two three four"),
        (1, "Y", "one two three five"),
    ]
    dup = base + [(2, "X", "one two three four")]
    df1 = spark.createDataFrame(base, "doc_id long, source string, text string")
    df2 = spark.createDataFrame(dup, "doc_id long, source string, text string")
    r1 = sorted(map(tuple, source_overlap(df1).collect()))
    r2 = sorted(map(tuple, source_overlap(df2).collect()))
    assert r1 == r2


def test_source_overlap_validation(spark):
    import pytest as _pytest

    from ocr_search_spark.training.dedup import source_overlap

    df = spark.createDataFrame([(0, "A", "x y z")], "doc_id long, source string, text string")
    with _pytest.raises(ValueError):
        source_overlap(df, k=0)


# -------------------------------------------------- vocabulary growth


def test_vocab_growth_exact_curve(spark):
    import math

    from ocr_search_spark.training.textstats import vocab_growth

    docs = [
        (0, "a b c"),
        (1, "a b d"),        # bucket 0: tokens 6, new {a,b,c,d}=4
        (2, "c d e e"),      # bucket 1: e new
        (3, "f"),            #           f new
        (5, "a a a"),        # bucket 2: nothing new (gap at id 4 is fine)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["bucket"]: r for r in vocab_growth(df, bucket_size=2).collect()}
    assert (out[0]["n_docs"], out[0]["n_tokens"], out[0]["n_new_terms"]) == (2, 6, 4)
    assert (out[1]["n_docs"], out[1]["n_tokens"], out[1]["n_new_terms"]) == (2, 5, 2)
    assert (out[2]["n_docs"], out[2]["n_tokens"], out[2]["n_new_terms"]) == (1, 3, 0)
    assert out[2]["cum_tokens"] == 14 and out[2]["vocab_size"] == 6
    assert out[0]["beta_e6"] is None

    def L(x):
        return math.floor(1_000_000.0 * math.log(float(x)))

    exp_b1 = (L(6) - L(4)) * 1_000_000 // (L(11) - L(6))
    assert out[1]["beta_e6"] == exp_b1
    assert out[2]["beta_e6"] == 0  # vocab flat, tokens grew


def test_vocab_growth_monotone_and_total(spark):
    from ocr_search_spark.training.textstats import vocab_growth

    rows = [(i, f"w{i % 7} w{i % 13} common") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        vocab_growth(df, bucket_size=10).collect(), key=lambda r: r["bucket"]
    )
    vs = [r["vocab_size"] for r in out]
    assert vs == sorted(vs)
    assert vs[-1] == len({f"w{i % 7}" for i in range(60)} | {f"w{i % 13}" for i in range(60)} | {"common"})
    assert out[-1]["cum_docs"] == 60 and out[-1]["cum_tokens"] == 180


def test_vocab_growth_validation(spark):
    import pytest as _pytest

    from ocr_search_spark.training.textstats import vocab_growth

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        vocab_growth(df, bucket_size=0)


# --------------------------------------------------- TextRank


def _textrank_py(texts, top_k=20, min_len=3, iters=3):
    SCALE = 1_000_000_000_000
    pairs = set()
    for t in texts:
        ws = [w for w in t.lower().split() if w and len(w) >= min_len]
        for a, b in zip(ws, ws[1:]):
            if a != b:
                pairs.add((min(a, b), max(a, b)))
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    if not nodes:
        return []
    n = len(nodes)
    od = {}
    for s, _ in edges:
        od[s] = od.get(s, 0) + 1
    r = {v: SCALE // n for v in nodes}
    teleport = (SCALE * 3 // 20) // n
    for _ in range(iters):
        nxt = {v: teleport for v in nodes}
        for s, d in edges:
            nxt[d] += (r[s] * 17) // (20 * od[s])
        r = nxt
    ranked = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    return ranked


def test_textrank_matches_python_replay(spark):
    from ocr_search_spark.training.textstats import textrank_keywords

    texts = [
        "spark engine runs spark jobs with spark shuffle stages",
        "the engine compiles jobs into stages and tasks",
        "tiny of in at",   # all filtered by min_len
        "shuffle stages spill when memory runs out",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [(r["word"], r["rank"]) for r in textrank_keywords(df, top_k=50).collect()]
    assert got == _textrank_py(texts, top_k=50)


def test_textrank_hub_word_wins(spark):
    from ocr_search_spark.training.textstats import textrank_keywords

    texts = ["hub alpha", "hub beta", "hub gamma", "hub delta", "alpha beta"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    out = [r["word"] for r in textrank_keywords(df, top_k=3).collect()]
    assert out[0] == "hub"


def test_textrank_validation(spark):
    import pytest as _pytest

    from ocr_search_spark.training.textstats import textrank_keywords

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        textrank_keywords(df, top_k=0)
    with _pytest.raises(ValueError):
        textrank_keywords(df, min_len=0)


# --------------------------------------------------- gazetteer


def test_gazetteer_containment_maximal(spark):
    from ocr_search_spark.training.textstats import gazetteer_match

    docs = [
        (0, "use a sort merge join for big tables"),
        (1, "a merge join beats a hash join sometimes"),
        (2, "join join join"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    phrases = ["join", "merge join", "sort merge join", "hash join"]
    got = sorted(
        (r["id"], r["start"], r["len"], r["phrase"])
        for r in gazetteer_match(df, phrases).collect()
    )
    # doc 0: 'sort merge join' at 2 dominates nested 'merge join'@3 and 'join'@4
    # doc 1: 'merge join'@1 dominates 'join'@2; 'hash join'@5 dominates 'join'@6
    # doc 2: three bare 'join' matches survive (nothing contains them)
    assert got == [
        (0, 2, 3, "sort merge join"),
        (1, 1, 2, "merge join"),
        (1, 5, 2, "hash join"),
        (2, 0, 1, "join"),
        (2, 1, 1, "join"),
        (2, 2, 1, "join"),
    ]


def test_gazetteer_overlap_not_nested_both_emit(spark):
    from ocr_search_spark.training.textstats import gazetteer_match

    df = spark.createDataFrame([(0, "alpha beta gamma")], "doc_id long, text string")
    got = sorted(
        (r["start"], r["phrase"])
        for r in gazetteer_match(df, ["alpha beta", "beta gamma"]).collect()
    )
    assert got == [(0, "alpha beta"), (1, "beta gamma")]


def test_gazetteer_positions_zero_based(spark):
    from ocr_search_spark.training.textstats import gazetteer_match

    df = spark.createDataFrame([(0, "x y target z")], "doc_id long, text string")
    r = gazetteer_match(df, ["target"]).collect()[0]
    assert (r["start"], r["len"]) == (2, 1)


def test_gazetteer_validation(spark):
    import pytest as _pytest

    from ocr_search_spark.training.textstats import gazetteer_match

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        gazetteer_match(df, [])
    with _pytest.raises(ValueError):
        gazetteer_match(df, ["   "])


# ------------------------------------------------- k-means|| seeding


def _kmpp_py(vecs, ell, rounds, salt="kmpp"):
    import hashlib
    import math

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    vm = {i: [math.floor(float(x) * 1_000_000) for x in v] for i, v in vecs.items()}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    centers = [min(vm)]
    for r in range(1, rounds + 1):
        dmin = {i: min(d2(v, vm[c]) for c in centers) for i, v in vm.items()}
        phi = sum(dmin.values())
        if phi > 0:
            for i in sorted(vm):
                if h60(f"{i}:{r}:{salt}") * phi < ell * dmin[i] * (1 << 60):
                    centers.append(i)
    w = {}
    for i, v in vm.items():
        best = min(centers, key=lambda c: (d2(v, vm[c]), c))
        w[best] = w.get(best, 0) + 1
    return w


def _kmpp_vecs(n=60, dim=6):
    import math

    return {
        i: [math.sin(i * 7 + j) * 2.0 for j in range(dim)] for i in range(n)
    }


def test_kmeanspp_matches_python_replay(spark):
    from ocr_search_spark.training.similarity import kmeanspp_oversample

    vecs = _kmpp_vecs()
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["cand_id"]: r["weight"]
        for r in kmeanspp_oversample(df, ell=4, rounds=2).collect()
    }
    exp = _kmpp_py({i: v for i, v in vecs.items()}, ell=4, rounds=2)
    assert got == exp
    assert sum(got.values()) == 60
    assert len(got) > 1  # oversampling actually drew extra candidates


def test_kmeanspp_partition_invariance(spark):
    from ocr_search_spark.training.similarity import kmeanspp_oversample

    vecs = _kmpp_vecs(40, 4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    a = sorted(map(tuple, kmeanspp_oversample(df, ell=3, rounds=2).collect()))
    b = sorted(
        map(
            tuple,
            kmeanspp_oversample(df.repartition(7), ell=3, rounds=2).collect(),
        )
    )
    assert a == b


def test_kmeanspp_degenerate_all_identical(spark):
    """All-equal vectors: phi = 0 every round, the single seed absorbs
    everything."""
    from ocr_search_spark.training.similarity import kmeanspp_oversample

    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    got = kmeanspp_oversample(df, ell=5, rounds=2).collect()
    assert len(got) == 1 and got[0]["cand_id"] == 0 and got[0]["weight"] == 10


def test_kmeanspp_validation(spark):
    import pytest as _pytest

    from ocr_search_spark.training.similarity import kmeanspp_oversample

    df = spark.createDataFrame(
        [(0, [1.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError):
        kmeanspp_oversample(df, ell=0)
    with _pytest.raises(ValueError):
        kmeanspp_oversample(df, rounds=0)


# ---------------------------------------------------- b-bit MinHash


def test_minhash_bbit_matches_python(spark):
    from ocr_search_spark.training.dedup import minhash_bbit_estimate

    import random

    rng = random.Random(9)
    sigs = {i: [rng.getrandbits(60) for _ in range(16)] for i in range(8)}
    sigs[1] = list(sigs[0])          # identical twin
    sigs[2] = sigs[0][:8] + [rng.getrandbits(60) for _ in range(8)]
    sdf = spark.createDataFrame(
        [(i, v) for i, v in sigs.items()], "id long, sig array<long>"
    )
    pdf = spark.createDataFrame(
        [(0, 1), (0, 2), (3, 4)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): (r["matches"], r["est_jaccard_e6"])
        for r in minhash_bbit_estimate(sdf, pdf, 16, b=4).collect()
    }

    def py(a, bx, b=4):
        m = sum(1 for x, y in zip(sigs[a], sigs[bx]) if x % (1 << b) == y % (1 << b))
        c = 1_000_000 // (1 << b)
        est = max(0, ((m * 1_000_000 // 16) - c) * 1_000_000 // (1_000_000 - c))
        return m, est

    assert out == {(0, 1): py(0, 1), (0, 2): py(0, 2), (3, 4): py(3, 4)}
    assert out[(0, 1)] == (16, 1_000_000)        # twin estimates exactly 1
    assert out[(3, 4)][1] < 250_000              # unrelated stays near 0


def test_minhash_bbit_validation(spark):
    import pytest as _pytest

    from ocr_search_spark.training.dedup import minhash_bbit_estimate

    s = spark.createDataFrame([(0, [1])], "id long, sig array<long>")
    p = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with _pytest.raises(ValueError):
        minhash_bbit_estimate(s, p, 0)
    with _pytest.raises(ValueError):
        minhash_bbit_estimate(s, p, 16, b=0)
    with _pytest.raises(ValueError):
        minhash_bbit_estimate(s, p, 16, b=61)


# ----------------------------------------------- corpus drift (PSI)


def test_psi_drift_python_replay_and_edges(spark):
    """Exact replay incl. one-sided bins (drift lives there) and the
    identical-slices → zero-PSI property."""
    import math

    from pyspark.sql import functions as F

    from ocr_search_spark.training.textstats import psi_drift

    base = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20, "g string"
    )
    cmp_ = spark.createDataFrame(
        [("a",)] * 20 + [("b",)] * 30 + [("d",)] * 50, "g string"
    )
    rows = {r["bin"]: r for r in psi_drift(base, cmp_, F.col("g")).collect()}
    K, tb, tc, s = 4, 100, 100, 1
    nb = {"a": 50, "b": 30, "c": 20, "d": 0}
    nc = {"a": 20, "b": 30, "c": 0, "d": 50}
    want_total = 0
    for g in "abcd":
        p = (nb[g] + s) * 1_000_000 // (tb + s * K)
        q = (nc[g] + s) * 1_000_000 // (tc + s * K)
        dl = math.floor(1e6 * math.log(p)) - math.floor(1e6 * math.log(q))
        # Spark's `div` truncates toward zero (not floor) — replay that
        psi = int((p - q) * dl / 1_000_000)
        assert (rows[g]["p_base_e6"], rows[g]["p_cmp_e6"], rows[g]["psi_e6"]) == (p, q, psi), g
        want_total += psi
    assert rows[None]["psi_e6"] == want_total
    assert rows[None]["n_base"] == 100 and rows[None]["n_cmp"] == 100
    # identical slices: every term exactly zero
    same = {r["bin"]: r["psi_e6"] for r in psi_drift(base, base, F.col("g")).collect()}
    assert all(v == 0 for v in same.values())


# ------------------------------------------------- T5 span corruption


def _span_corruption_py(doc_id, text, L=3, density_e6=150_000):
    import hashlib

    toks = [w for w in text.split() if w]
    n = len(toks)
    S = (n * density_e6 // 1_000_000) // L
    if S == 0:
        return " ".join(toks), ""
    spans = []
    for j in range(S):
        lo, hi = j * n // S, (j + 1) * n // S
        avail = hi - lo - L + 1
        if avail < 1:
            continue
        h = int(hashlib.md5(f"{doc_id}:sc:{j}".encode()).hexdigest()[:15], 16)
        s = lo + h % avail
        spans.append((j, s, s + L))
    inp, tgt = [], []
    starts = {s: j for j, s, _ in spans}
    covered = {i for _, s, e in spans for i in range(s, e)}
    for i, w in enumerate(toks):
        if i in starts:
            inp.append(f"<extra_id_{starts[i]}>")
        elif i not in covered:
            inp.append(w)
    for j, s, e in spans:
        tgt.append(f"<extra_id_{j}>")
        tgt.extend(toks[s:e])
    return " ".join(inp), " ".join(tgt)


def test_span_corruption_vs_python_replay(spark):
    """Replay parity on varied lengths incl. no-span short docs and a
    round-trip property: de-masking input with target restores the
    original token sequence."""
    from ocr_search_spark.training.packing import span_corruption

    rows = [
        (1, " ".join(f"w{i}" for i in range(40))),
        (2, " ".join(f"tok{i}" for i in range(97))),
        (3, "a b c"),              # too short: passthrough
        (4, " ".join(f"x{i}" for i in range(20))),  # S=1 exactly
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: (r["input_text"], r["target_text"])
           for r in span_corruption(df).collect()}
    for did, text in rows:
        assert got[str(did)] == _span_corruption_py(did, text), did
    # round-trip: splice targets back into inputs
    for did, text in rows:
        inp, tgt = got[str(did)]
        toks, spans, cur = inp.split(), {}, None
        for w in tgt.split():
            if w.startswith("<extra_id_"):
                cur = w
                spans[cur] = []
            else:
                spans[cur].append(w)
        restored = []
        for w in toks:
            restored.extend(spans.get(w, [w]))
        assert restored == text.split(), did


def test_span_corruption_validation(spark):
    import pytest

    from ocr_search_spark.training.packing import span_corruption

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        span_corruption(df, span_len=0)
    with pytest.raises(ValueError):
        span_corruption(df, density_e6=0)


def test_fim_transform_round_trip_and_short_passthrough(spark):
    """PSM pieces re-assemble to the original text; short docs pass
    through; the middle is never empty."""
    import re

    from ocr_search_spark.training.packing import fim_transform

    # 1- and 2-char docs are the ANSI landmine: the cut-point modulos
    # are evaluated for every row, so an unguarded divisor (n-2 = 0 or
    # -1) raises REMAINDER_BY_ZERO and aborts the whole job instead of
    # the documented pass-through (ADVICE r3, high).
    rows = [(1, "def f(x):\n    return x + 1\n"), (2, "tiny"),
            (3, "a" * 11), (4, "x = 1\ny = 2\nz = x + y\nprint(z)\n"),
            (5, "a"), (6, "ab"), (7, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["fim_text"] for r in fim_transform(df).collect()}
    for did, text in rows:
        out = got[str(did)]
        if len(text) < 12:
            assert out == text
            continue
        m = re.fullmatch(r"<PRE>(.*)<SUF>(.*)<MID>(.*)", out, re.S)
        pre, suf, mid = m.groups()
        assert mid and pre + mid + suf == text, did
    import pytest
    with pytest.raises(ValueError):
        fim_transform(df, min_len=2)


def test_skipgram_pairs_python_replay(spark):
    """Pair counts == a python replay of the pinned subsample + window
    rules on a corpus with one hyper-frequent word."""
    import hashlib
    import math

    from ocr_search_spark.training.packing import skipgram_pairs

    texts = ["the cat sat on the mat the end", "the dog the log the fog"]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t_e6, w = 200_000, 2

    toks = {str(i): t.lower().split() for i, t in rows}
    N = sum(len(v) for v in toks.values())
    f = {}
    for v in toks.values():
        for x in v:
            f[x] = f.get(x, 0) + 1
    want = {}
    for did, v in toks.items():
        surv = []
        for pos, word in enumerate(v):
            keep = min(
                1_000_000,
                math.floor(1e6 * math.sqrt((t_e6 * N) / (1_000_000 * f[word]))),
            )
            h = int(hashlib.md5(f"{did}:{pos}".encode()).hexdigest()[:15], 16)
            if h % 1_000_000 < keep:
                surv.append(word)
        for i, c in enumerate(surv):
            for j in range(max(0, i - w), min(len(surv), i + w + 1)):
                if j != i:
                    want[(c, surv[j])] = want.get((c, surv[j]), 0) + 1
    got = {(r["center"], r["context"]): r["cnt"]
           for r in skipgram_pairs(df, window=w, t_e6=t_e6).collect()}
    assert got == want
    # the hyper-frequent 'the' (8/22 tokens) must actually lose occurrences
    assert sum(v for (c, _), v in want.items() if c == "the") < 8 * 2 * w


def test_matryoshka_overlap_bounds_and_full_dim_identity(spark):
    """Overlap at the FULL dimension is exactly k for every query;
    overlaps are within [0, k] and weakly improve in expectation as d
    grows on structured vectors."""
    from ocr_search_spark.training.similarity import matryoshka_overlap

    rows = []
    for i in range(40):
        # structure in the leading dims, noise after
        v = [float((i % 7) == j) + 0.05 * (j + 1) for j in range(8)] + [
            float((i * j) % 5) / 5.0 for j in range(8)
        ]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where("vec_id < 6")
    out = matryoshka_overlap(df, q, dims=[2, 8, 16], k=4).collect()
    got = {(r["dim"], r["query_id"]): r["n_overlap"] for r in out}
    assert len(got) == 3 * 6
    assert all(0 <= v <= 4 for v in got.values())
    assert all(got[(16, qid)] == 4 for qid in range(6))  # full dim == identity
    mean2 = sum(got[(2, q_)] for q_ in range(6)) / 6
    mean8 = sum(got[(8, q_)] for q_ in range(6)) / 6
    assert mean8 >= mean2
    import pytest
    with pytest.raises(ValueError):
        matryoshka_overlap(df, q, dims=[])


def test_shingle_novelty_matrix(spark, small_docs):
    """Copy of a train doc → novelty 0; disjoint vocabulary → 1e6;
    <k words → zero shingles and defined-zero novelty; counts match a
    semantic replica; partition-invariant."""
    ev = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog"),  # = train 1
            (102, "zebra xylophone quartz vortex jackal umbra nadir"),
            (103, "two words"),
            (104, "the quick brown fox jumps over distant green hills"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in dedup.shingle_novelty(small_docs, ev, k=3).collect()
    }
    assert set(out) == {101, 102, 103, 104}
    assert out[101]["n_shingles"] == 7 and out[101]["n_novel"] == 0
    assert out[101]["novelty_e6"] == 0
    assert out[102]["n_shingles"] == 5 and out[102]["n_novel"] == 5
    assert out[102]["novelty_e6"] == 1_000_000
    assert out[103]["n_shingles"] == 0 and out[103]["novelty_e6"] == 0
    # 104 shares 'the quick brown'..'jumps over' prefix 3-grams with
    # train doc 1: shingles = 7 total, novel = the 3 involving
    # 'distant'/'green'/'hills'
    assert out[104]["n_shingles"] == 7 and out[104]["n_novel"] == 3
    assert out[104]["novelty_e6"] == 3 * 1_000_000 // 7
    # partition invariance
    out2 = {
        r["id"]: r["novelty_e6"]
        for r in dedup.shingle_novelty(
            small_docs.repartition(5), ev.repartition(3), k=3
        ).collect()
    }
    assert out2 == {k: v["novelty_e6"] for k, v in out.items()}


def test_zipf_fit_exact_ols_replica(spark):
    """The fit equals a pure-Python replica of the pinned integer OLS
    (floor-1e6-ln x/y, exact sums), is partition-invariant, and a
    single-term vocabulary yields null slope/intercept."""
    from ocr_search_spark.operators.profile import zipf_fit

    rows = []
    counts = [400, 190, 120, 90, 70, 55, 44, 37, 30, 11]
    for i, c in enumerate(counts):
        # spread each term's total over a few (doc, tf) postings rows
        rows += [(f"t{i:02d}", d, c // 2 if d == 0 else c - c // 2)
                 for d in (0, 1)]
    post = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    got = zipf_fit(post.repartition(7)).collect()[0]
    # replica: ranks by (count desc, term asc)
    ranked = sorted(
        [(f"t{i:02d}", c) for i, c in enumerate(counts)],
        key=lambda tc: (-tc[1], tc[0]),
    )
    xy = [
        (math.floor(1e6 * math.log(r + 1)), math.floor(1e6 * math.log(c)))
        for r, (_, c) in enumerate(ranked)
    ]
    n = len(xy)
    sx = sum(x for x, _ in xy)
    sy = sum(y for _, y in xy)
    sxy = sum(x * y for x, y in xy)
    sxx = sum(x * x for x, _ in xy)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy / n - slope * (sx / n)) / 1e6
    assert got["n_terms"] == n
    assert got["slope"] == round(slope, 6)
    assert got["intercept"] == round(intercept, 6)
    assert -2.0 < got["slope"] < -0.3  # zipf-shaped input
    one = spark.createDataFrame(
        [("only", 0, 5)], "term string, doc_id long, tf long"
    )
    got1 = zipf_fit(one).collect()[0]
    assert got1["n_terms"] == 1
    assert got1["slope"] is None and got1["intercept"] is None


def test_energy_segments_vad(spark):
    """Designed silence/active block clips: segment spans, tail partial
    frames, mid-frame run starts, silent clips absent, undecodable
    payloads carried as error rows; partition-invariant."""
    import numpy as np

    from ocr_search_spark.training.wav import encode_wav

    loud, quiet = 16384 / 32768.0, 2048 / 32768.0
    clip = np.concatenate([
        np.zeros((320, 1)), np.full((480, 1), loud),
        np.full((320, 1), quiet), np.full((160, 1), loud),
    ])
    media = spark.createDataFrame(
        [
            ("a.wav", bytearray(encode_wav(clip, 16000))),
            ("silent.wav", bytearray(encode_wav(np.zeros((480, 1)), 8000))),
            ("bad.bin", bytearray(b"nope")),
        ],
        "media_ref string, payload binary",
    )
    out = multimodal.energy_segments(media, frame_len=160,
                                     threshold_e6=10_000)
    rows = sorted(
        ((r["media_ref"], r["seg_idx"], r["start_frame"], r["n_frames"],
          r["peak_e6"], r["mean_e6"], r["error"]) for r in out.collect()),
        key=lambda x: (x[0], x[1] if x[1] is not None else -1),
    )
    # constant 0.5 amplitude → energy exactly 250000 micros
    assert rows == [
        ("a.wav", 0, 2, 3, 250000, 250000, None),
        ("a.wav", 1, 7, 1, 250000, 250000, None),
        ("bad.bin", None, None, None, None, None,
         "not a WAV (bad RIFF/WAVE signature)"),
    ]
    rows2 = sorted(
        ((r["media_ref"], r["seg_idx"]) for r in multimodal.energy_segments(
            media.repartition(4), frame_len=160, threshold_e6=10_000
        ).collect()),
        key=lambda x: (x[0], x[1] if x[1] is not None else -1),
    )
    assert rows2 == [(m, s) for m, s, *_ in rows]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        multimodal.energy_segments(media, frame_len=0)


def test_resample_audio_grid_and_roundtrip(spark):
    """Pinned integer-grid resample: exact output frame counts for up-
    and down-sampling, byte-identical payloads across partitionings,
    lossless 8->16-bit promotion, error rows for broken payloads."""
    import numpy as np

    from ocr_search_spark.training.wav import decode_wav, encode_wav

    t = np.arange(800) / 8000.0
    tone = (np.sin(2 * np.pi * 440 * t) * 0.5)[:, None]
    tone = np.round(tone * 32768.0) / 32768.0  # pin to the PCM grid
    lvl8 = np.full((100, 2), 64 / 128.0)       # exact at 8-bit
    media = spark.createDataFrame(
        [
            ("tone.wav", bytearray(encode_wav(tone, 8000))),
            ("lvl8.wav", bytearray(encode_wav(lvl8, 44100, bits=8))),
            ("bad.bin", bytearray(b"nope")),
        ],
        "media_ref string, payload binary",
    )
    out = {r["media_ref"]: r for r in
           multimodal.resample_audio(media, 16000).collect()}
    assert out["tone.wav"]["n_frames_in"] == 800
    assert out["tone.wav"]["n_frames_out"] == 1600          # upsample x2
    assert out["lvl8.wav"]["n_frames_out"] == (100 * 16000) // 44100
    assert out["bad.bin"]["error"] is not None
    # upsampled tone: every src frame duplicated on the nearest grid
    rate, s = decode_wav(bytes(out["tone.wav"]["payload"]))
    assert rate == 16000 and s.shape == (1600, 1)
    np.testing.assert_array_equal(s[::2], tone)
    np.testing.assert_array_equal(s[1::2], tone)
    # 8-bit constant promotes losslessly to the 16-bit grid
    _, s8 = decode_wav(bytes(out["lvl8.wav"]["payload"]))
    assert np.unique(s8).tolist() == [64 / 128.0]
    # byte determinism across partitionings
    out2 = {r["media_ref"]: bytes(r["payload"]) for r in
            multimodal.resample_audio(media.repartition(5), 16000).collect()
            if r["payload"] is not None}
    assert out2 == {k: bytes(v["payload"]) for k, v in out.items()
                    if v["payload"] is not None}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        multimodal.resample_audio(media, 0)


# ------------------------------------------------- char_error_rate


def test_char_error_rate_hand_cases(spark):
    from ocr_search_spark.training.textstats import char_error_rate

    ref = spark.createDataFrame(
        [(0, "abcd"), (1, "abcd"), (2, "ab"), (3, "abcd")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(0, "abcd"), (1, "abxd"), (2, "b")],  # 3 dropped entirely
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in char_error_rate(ref, cand).collect()}
    assert (out[0]["dist"], out[0]["cer_micros"]) == (0, 0)
    assert (out[1]["dist"], out[1]["cer_micros"]) == (1, 250_000)
    assert (out[2]["dist"], out[2]["cer_micros"]) == (1, 500_000)
    # dropped page: worst score, never silently perfect
    assert (out[3]["dist"], out[3]["cand_len"], out[3]["cer_micros"]) == (
        -1,
        -1,
        1_000_000,
    )
    assert all(r["ref_len"] == len("abcd") for r in (out[0], out[1], out[3]))


# ------------------------------------------------- shard_manifest


def test_shard_manifest_next_fit_hand_case(spark):
    from ocr_search_spark.training.assembly import shard_manifest

    df = spark.createDataFrame(
        [(k, 4) for k in range(1, 6)], "doc_id long, n_chars long"
    )
    out = shard_manifest(
        df, target_weight=10, n_buckets=1
    ).collect()
    by_file = {r["file"]: r for r in out}
    # exclusive cumsums 0,4,8,12,16 over keys 1..5 → files 0,0,0,1,1
    assert (by_file[0]["n_docs"], by_file[0]["total_weight"]) == (3, 12)
    assert (by_file[0]["first_key"], by_file[0]["last_key"]) == (1, 3)
    assert (by_file[1]["n_docs"], by_file[1]["total_weight"]) == (2, 8)
    assert (by_file[1]["first_key"], by_file[1]["last_key"]) == (4, 5)


def test_shard_manifest_coverage_and_determinism(spark):
    from ocr_search_spark.training.assembly import shard_manifest

    rows = [(k, 1 + (k * 37) % 90) for k in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    a = shard_manifest(df, target_weight=100, n_buckets=4).collect()
    # disjoint + exhaustive: every doc packed exactly once
    assert sum(r["n_docs"] for r in a) == 200
    assert sum(r["total_weight"] for r in a) == sum(w for _, w in rows)
    # partitioning-immune: same manifest from a reshuffled input
    b = shard_manifest(
        df.repartition(7), target_weight=100, n_buckets=4
    ).collect()
    key = lambda r: (r["bucket"], r["file"])  # noqa: E731
    assert sorted(map(tuple, a), key=str) == sorted(map(tuple, b), key=str)
    # next-fit bound: every non-final file in a bucket reaches target
    import collections

    last = {
        b_: max(r["file"] for r in a if r["bucket"] == b_)
        for b_ in {r["bucket"] for r in a}
    }
    for r in a:
        if r["file"] < last[r["bucket"]]:
            assert r["total_weight"] >= 100 - 90 + 1  # ≥ T - max_w + 1


def test_shard_manifest_validation(spark):
    import pytest

    from ocr_search_spark.training.assembly import shard_manifest

    df = spark.createDataFrame([(1, 1)], "doc_id long, n_chars long")
    with pytest.raises(ValueError):
        shard_manifest(df, target_weight=0)
    with pytest.raises(ValueError):
        shard_manifest(df, n_buckets=0)


def test_char_error_rate_python_replica(spark):
    """Seeded fuzz: Spark levenshtein + CER math vs a pure-Python DP."""
    import random

    from ocr_search_spark.training.textstats import char_error_rate

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    rng = random.Random(42)
    alpha = "abcx "
    refs, cands = [], []
    for i in range(60):
        r = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 30)))
        c = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        refs.append((i, r))
        if i % 7 != 3:
            cands.append((i, c))
    ref = spark.createDataFrame(refs, "doc_id long, text string")
    cand = spark.createDataFrame(cands, "doc_id long, text string")
    got = {r["doc_id"]: r for r in char_error_rate(ref, cand).collect()}
    cmap = dict(cands)
    for i, rtext in refs:
        row = got[i]
        if i % 7 == 3:
            assert (row["dist"], row["cer_micros"]) == (-1, 1_000_000)
        else:
            d = lev(rtext, cmap[i])
            assert row["dist"] == d
            assert row["cer_micros"] == (1_000_000 * d) // len(rtext)


def test_shard_manifest_python_replica(spark):
    """Seeded fuzz: packing replicated with the md5-based h60 twin."""
    import hashlib
    import random

    from ocr_search_spark.training.assembly import shard_manifest

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rng = random.Random(7)
    rows = [(k, rng.randint(1, 500)) for k in rng.sample(range(10_000), 300)]
    target, nb = 1000, 8
    # python replica: bucket, order by key, exclusive cumsum // target
    model = {}
    buckets = {}
    for k, w in sorted(rows):
        buckets.setdefault(h60(f"pack:{k}") % nb, []).append((k, w))
    for b, docs in buckets.items():
        cum = 0
        for k, w in docs:
            f = cum // target
            st = model.setdefault((b, f), [0, 0, k, k])
            st[0] += 1
            st[1] += w
            st[2] = min(st[2], k)
            st[3] = max(st[3], k)
            cum += w
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = shard_manifest(df, target_weight=target, n_buckets=nb).collect()
    got = {
        (r["bucket"], r["file"]): [
            r["n_docs"], r["total_weight"], r["first_key"], r["last_key"]
        ]
        for r in out
    }
    assert got == model


def test_vocab_coverage_python_replica(spark):
    """Replica over a random word-freq table with two learned merges."""
    import random

    from ocr_search_spark.training.bpe import encode_words, vocab_coverage

    rng = random.Random(3)
    alpha = "abcd"
    wf = {}
    for _ in range(40):
        w = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
        wf[w] = wf.get(w, 0) + rng.randint(1, 9)
    merges = [("a", "b"), ("ab", "c")]

    def seg(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    pfreq = {}
    for w, f in wf.items():
        for p in seg(w):
            pfreq[p] = pfreq.get(p, 0) + f
    k = 3
    vocab = {p for p, _ in sorted(pfreq.items(), key=lambda kv: (-kv[1], kv[0]))[:k]}
    df = spark.createDataFrame(list(wf.items()), "word string, freq long")
    out = {r["word"]: r for r in vocab_coverage(encode_words(df, merges), k).collect()}
    for w, f in wf.items():
        s = seg(w)
        unk = sum(1 for p in s if p not in vocab)
        r = out[w]
        assert (r["freq"], r["n_symbols"], r["n_unk"], r["covered"]) == (
            f, len(s), unk, unk == 0
        )


def test_nb_margin_calibration_python_replica(spark):
    """Calibration bins replicated from nb_classify's own scored rows:
    train/score with the library, then re-derive margins + bins in
    Python from the full scored frame and compare bucket by bucket."""
    from ocr_search_spark.training.classify import (
        _nb_scored,
        nb_margin_calibration,
        nb_train,
    )

    docs = [
        (i, ["en", "de", "fr"][i % 3], f"w{i % 5} w{(i * 3) % 7} common")
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    train = df.where("doc_id % 4 != 0")
    test = df.where("doc_id % 4 = 0")
    binw, nb = 50_000, 4
    out = {
        r["bin"]: r
        for r in nb_margin_calibration(
            train, test, bin_width_micros=binw, n_bins=nb
        ).collect()
    }
    w, c = nb_train(train)
    scored = _nb_scored(test, w, c, "text", "doc_id", True).collect()
    truth = {r["doc_id"]: r["lang"] for r in test.collect()}
    by_id = {}
    for r in scored:
        by_id.setdefault(r["id"], []).append((r["label"], r["score"]))
    model = {}
    for i, rows in by_id.items():
        rows.sort(key=lambda lr: (-lr[1], lr[0]))
        (l1, s1), (_, s2) = rows[0], rows[1]
        m = s1 - s2
        b = min(m // binw, nb - 1)
        st = model.setdefault(b, [0, 0, m, m])
        st[0] += 1
        st[1] += l1 == truth[i]
        st[2] = min(st[2], m)
        st[3] = max(st[3], m)
    assert set(out) == set(model)
    for b, (n, ok, mn, mx) in model.items():
        r = out[b]
        assert (r["n"], r["n_correct"], r["margin_min"], r["margin_max"]) == (
            n, ok, mn, mx
        )
        assert r["acc_micros"] == (1_000_000 * ok) // n


def test_nb_margin_calibration_validation(spark):
    import pytest

    from ocr_search_spark.training.classify import nb_margin_calibration

    df = spark.createDataFrame(
        [(1, "en", "a b"), (2, "de", "c d")], "doc_id long, lang string, text string"
    )
    with pytest.raises(ValueError):
        nb_margin_calibration(df, df, bin_width_micros=0)
    with pytest.raises(ValueError):
        nb_margin_calibration(df, df, n_bins=0)

"""Similarity operators: MaxSim late interaction, deletion-blocked
edit-distance self-join, ranking recall and the single-partition guard
of the IVF quantizer — each verified against an independent
brute-force/pure-Python replay."""

from __future__ import annotations

import itertools

import numpy as np

from pyspark.sql import functions as F

from ocr_search_spark.operators.simjoin import edit1_pairs
from ocr_search_spark.training.similarity import maxsim_topk


# -------------------------------------------------------------- MaxSim


def test_maxsim_matches_numpy_bruteforce(spark):
    rng = np.random.RandomState(7)
    dim, n_sub, n = 16, 4, 40
    vecs = rng.uniform(-1, 1, size=(n, dim)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    q = emb.where(F.col("vec_id") == 3)
    got = [(r["vec_id"], r["score"]) for r in maxsim_topk(emb, q, n_sub=n_sub, k=10).collect()]

    micros = np.floor(vecs.astype("float64") * 1_000_000).astype("int64")
    qs = micros[3].reshape(n_sub, dim // n_sub)
    scores = {}
    for i in range(n):
        ds = micros[i].reshape(n_sub, dim // n_sub)
        scores[i] = int(sum((qs @ ds.T).max(axis=1)))
    order = sorted(scores, key=lambda i: (-scores[i], i))[:10]
    assert got == [(i, scores[i]) for i in order]
    assert got[0][0] == 3  # self-match ranks first


# -------------------------------------------------- edit-distance join


def _lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


def test_edit1_pairs_equals_bruteforce(spark):
    words = [
        "spark", "spork", "sparks", "park", "sark", "shark",
        "table", "tables", "cable", "tble", "tabl",
        "ab", "ba", "abc", "zz", "zzz", "q",  # q dropped by min_length
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = sorted((r["s1"], r["s2"]) for r in edit1_pairs(df).collect())
    kept = sorted({w for w in words if len(w) >= 2})
    exp = sorted(
        (a, b)
        for a, b in itertools.combinations(kept, 2)
        if _lev(a, b) == 1
    )
    assert got == exp
    assert ("ab", "ba") not in got  # shared-key false positive verified away


def test_edit1_pairs_unicode_and_dupes(spark):
    words = ["héllo", "hèllo", "hello", "hello", "héllos"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = sorted((r["s1"], r["s2"]) for r in edit1_pairs(df).collect())
    uniq = sorted(set(words))
    exp = sorted(
        (a, b) for a, b in itertools.combinations(uniq, 2) if _lev(a, b) == 1
    )
    assert got == exp


def test_ranking_recall_exact_counts(spark):
    from ocr_search_spark.training.similarity import ranking_recall

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    cand = spark.createDataFrame(
        [(1, 11), (1, 99), (1, 12), (2, 5)],
        "query_id long, neighbor_id long",
    )
    out = {r["query_id"]: r for r in ranking_recall(truth, cand).collect()}
    assert out[1]["n_truth"] == 3 and out[1]["n_hit"] == 2
    assert out[1]["recall_e6"] == 666_666
    assert out[2]["n_hit"] == 0 and out[2]["recall_e6"] == 0


def test_single_partition_guards_raise_loudly(spark):
    """The documented-small unpartitioned path fails actionably past its
    bound instead of silently single-partition-sorting: the
    ivf_centroids parameter guard."""
    import pytest

    from ocr_search_spark.training.similarity import ivf_centroids

    vecs = spark.range(4).selectExpr(
        "cast(id as long) as vec_id", "array(double(id), 1.0d) as embedding"
    )
    with pytest.raises(ValueError, match="coarse-quantizer bound"):
        ivf_centroids(vecs, n_centroids=200_000)

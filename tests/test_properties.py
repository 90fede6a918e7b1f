"""Property-based tests (hypothesis) for the text-processing spec.

The three implementations (Spark columnar, pandas batch, pure-Python
golden) must agree on arbitrary input, not just the synthetic corpus.
Spark round-trips are batched: hypothesis generates a corpus of strings
first, then ONE Spark job compares all of them (per-example Spark jobs
would be minutes-slow)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_search_spark import golden, textproc
from ocr_search_spark.operators.tokenize import lemmatize_py, tokenize_text

# text alphabet: ASCII + CJK + strip chars + punctuation + whitespace
_ALPHA = st.sampled_from(
    list("abcdefghijklmnopqrstuvwxyzABCDE012 \t\n.,!?<>()[]'\"-_•、")
    + list("機器學習資料處理引擎搜索尋")
)
_TEXT = st.lists(_ALPHA, min_size=0, max_size=60).map("".join)
_TOKEN = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=12)


@settings(max_examples=300, deadline=None)
@given(_TOKEN)
def test_lemmatize_python_equals_golden(tok):
    assert lemmatize_py(tok) == golden.lemmatize(tok)


@settings(max_examples=300, deadline=None)
@given(_TEXT)
def test_tokenize_python_equals_golden(text):
    assert tokenize_text(text) == golden.tokenize(text)


@settings(max_examples=300, deadline=None)
@given(_TEXT)
def test_strip_boilerplate_pandas_equals_golden(text):
    got = textproc.strip_boilerplate_batch(pd.Series([text]))[0]
    assert got == golden.strip_boilerplate(text)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="機器學習資料處理引擎搜索尋一鿿", min_size=0, max_size=30))
def test_segment_cjk_impls_agree(chars):
    assert textproc.segment_cjk(chars) == golden.segment_cjk(chars)
    # segmentation is a partition of the input
    assert "".join(textproc.segment_cjk(chars)) == chars


def test_spark_tokenizer_equals_golden_on_fuzz_corpus(spark):
    """One Spark job over a hypothesis-style fuzz corpus: the columnar
    English pipeline + mapInPandas CJK stage must equal the golden
    tokenizer's term-frequency map for every string."""
    import random

    rng = random.Random(1234)
    alphabet = (
        list("abcdefghijklmnopqrstuvwxyz AB12 \t\n.,!?<>americanthe•、")
        + list("機器學習資料處理引擎")
    )
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 80)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "doc_id string, doc_text string"
    )
    from ocr_search_spark.operators.tokenize import term_postings

    got: dict[str, dict[str, int]] = {}
    for r in term_postings(df).collect():
        got.setdefault(r["doc_id"], {})[r["term"]] = r["tf"]
    for i, t in enumerate(texts):
        expect: dict[str, int] = {}
        for term in golden.tokenize(t):
            expect[term] = expect.get(term, 0) + 1
        assert got.get(str(i), {}) == expect, f"doc {i}: {t!r}"


_CJK_TEXT = st.lists(
    st.sampled_from(list("機器學習資料處理引擎搜尋索引查詢系統文件分析網路模型宇宙星空的")),
    min_size=0,
    max_size=40,
).map("".join)


@settings(max_examples=300, deadline=None)
@given(_CJK_TEXT)
def test_segment_cjk_partition_property(s):
    """FMM is a PARTITION of the input: segments concatenate back to the
    original string, every multi-char segment is a dictionary word, and
    greediness holds (no segment is a proper prefix of a longer dict word
    that also matches at its position)."""
    segs = textproc.segment_cjk(s)
    assert "".join(segs) == s
    pos = 0
    for seg in segs:
        if len(seg) > 1:
            assert seg in textproc.CJK_DICT_SET
        # greedy maximal match: no longer dict word starts here (only
        # lengths that actually fit — Python slicing clamps past the end)
        for ln in range(min(textproc.CJK_MAX_WORD, len(s) - pos), len(seg), -1):
            assert s[pos : pos + ln] not in textproc.CJK_DICT_SET, (s, pos, seg)
        pos += len(seg)


# ---------------------------------------------------------- session 8

_WORDISH = st.text(alphabet="abcdef", min_size=0, max_size=9)


@settings(max_examples=200, deadline=None)
@given(_WORDISH, st.dictionaries(
    st.text(alphabet="abcdef", min_size=1, max_size=3),
    st.integers(min_value=-5_000_000, max_value=-1),
    max_size=12,
))
def test_viterbi_score_is_optimal_vs_brute_force(word, multi_scores):
    """The DP's score equals the max over ALL segmentations enumerated
    brute-force, and the returned pieces reproduce that score exactly
    under the same UNK fallback."""
    from ocr_search_spark.training.unigram_lm import (
        UNK_SCORE_E6,
        viterbi_segment,
    )

    scores = dict(multi_scores)

    def piece_score(p):
        if p in scores:
            return scores[p]
        return UNK_SCORE_E6 if len(p) == 1 else None

    def all_segs(w):
        if not w:
            yield []
            return
        for ln in range(1, min(4, len(w)) + 1):
            head = w[:ln]
            if piece_score(head) is None:
                continue
            for rest in all_segs(w[ln:]):
                yield [head] + rest

    pieces, got = viterbi_segment(word, scores, 4)
    best = max(sum(piece_score(p) for p in seg) for seg in all_segs(word)) if word else 0
    assert got == best
    assert "".join(pieces) == word
    assert sum(piece_score(p) for p in pieces) == got


# ------------------------------------------------------------ boolquery
# Parser robustness, pure Python (no Spark): arbitrary rendered ASTs
# round-trip through parse_boolean, and arbitrary junk either parses or
# raises ValueError — never crashes with anything else.

from ocr_search_spark.operators import boolquery as BQ  # noqa: E402

_WORD = st.sampled_from(["nebula", "zephyr", "merge", "table", "value", "summit"])


def _ast(depth):
    if depth == 0:
        return _WORD.map(BQ.Term)
    sub = _ast(depth - 1)
    return st.one_of(
        sub,
        st.lists(sub, min_size=2, max_size=3).map(
            lambda cs: BQ.And(tuple(cs))
        ),
        st.lists(sub, min_size=2, max_size=3).map(lambda cs: BQ.Or(tuple(cs))),
    )


def _render(node, top=True):
    if isinstance(node, BQ.Term):
        return node.term
    if isinstance(node, BQ.And):
        s = " AND ".join(_render(c, False) for c in node.children)
    else:
        s = " OR ".join(_render(c, False) for c in node.children)
    return s if top else f"({s})"


def _norm(node):
    """Flatten nested same-type nodes + collapse singletons, the
    parser's canonical shape."""
    if isinstance(node, BQ.Term):
        return node
    kids = []
    for c in node.children:
        cn = _norm(c)
        if type(cn) is type(node):
            kids.extend(cn.children)
        else:
            kids.append(cn)
    if len(kids) == 1:
        return kids[0]
    return type(node)(tuple(kids))


@settings(max_examples=300, deadline=None)
@given(_ast(3))
def test_boolquery_render_parse_roundtrip(ast):
    # rendering inserts explicit parens per level, so nested same-type
    # nodes flatten: compare normalized forms
    assert _norm(BQ.parse_boolean(_render(ast))) == _norm(ast)


_JUNK = st.lists(
    st.sampled_from(
        ["nebula", "AND", "OR", "NOT", "(", ")", '"', "the", "a", '"table value"',
         '"nebula"']
    ),
    min_size=0,
    max_size=8,
).map(" ".join)


@settings(max_examples=500, deadline=None)
@given(_JUNK)
def test_boolquery_junk_never_crashes(q):
    try:
        ast = BQ.parse_boolean(q)
    except ValueError:
        return  # rejection is an allowed outcome
    if ast is not None:
        # whatever parsed must be a well-formed AST the compiler accepts
        # or rejects with ValueError (unbounded negation)
        try:
            BQ.term_leaves(ast)
            BQ._check_negation(ast)
        except ValueError:
            pass


def test_extract_anchors_equals_python_oracle_on_fuzz_corpus(spark):
    """One Spark job over a fuzz corpus of half-broken HTML: the
    anchor-extraction regex (operators/urlnorm._ANCHOR_RE, JVM side)
    must equal a pure-Python re implementation of the SAME pinned rule
    — well-formed <a href>…</a> only, fragment stripped from the href,
    fragment-only/mailto/javascript dropped, nested tags stripped and
    whitespace collapsed in the body. Alphabet stays ASCII (Python
    \\s is Unicode-aware, Java's is not — the rule is pinned on ASCII
    whitespace)."""
    import random
    import re as _re

    from ocr_search_spark.operators.urlnorm import extract_anchors

    pat = _re.compile(
        "(?is)<a\\b[^>]*\\bhref\\s*=\\s*[\"']([^\"'#]+)[^\"']*[\"'][^>]*>(.*?)</a>"
    )
    scheme = _re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
    http = _re.compile("^(?i:https?)://")

    def py_anchors(html):
        out = []
        for href, body in pat.findall(html):
            if scheme.match(href) and not http.match(href):
                continue
            anchor = _re.sub(
                r"\s+", " ", _re.sub(r"<[^>]*>", " ", body)
            ).strip()
            out.append((href, anchor))
        return sorted(out)

    rng = random.Random(4321)
    noise = "abc <a> </a> href= \"'#/:.x\n\t<b></b>= <a hrf='/z'>y</a>"
    hrefs = [
        "/r/{}", "http://t{}.com/p", "../u{}", "#top", "mailto:a@b",
        "javascript:void(0)", "HTTPS://X{}.org/q", "/p{}#frag", "//cdn{}.net/c",
    ]
    bodies = [
        "plain {}", "<b>bold{}</b> tail", "  ws\t{}\n end  ", "",
        "<img src='i{}.png'/>", "nested <i>x{}</i> <span>y</span>",
    ]

    def frag(i):
        if rng.random() < 0.4:
            a = rng.randrange(len(noise) - 10)
            return noise[a : a + rng.randrange(1, 10)]
        h = rng.choice(hrefs).format(i)
        b = rng.choice(bodies).format(i)
        q = rng.choice(["'", '"'])
        return f"<a href={q}{h}{q}>{b}</a>"

    texts = ["".join(frag(i) for _ in range(rng.randrange(0, 5))) for i in range(150)]
    df = spark.createDataFrame(
        [(str(i), "http://base.example.com/a/b", t) for i, t in enumerate(texts)],
        "doc_id string, base_url string, html string",
    )
    got: dict[str, list] = {}
    for r in extract_anchors(df).collect():
        got.setdefault(r["doc_id"], []).append((r["href"], r["anchor"]))
    for i, t in enumerate(texts):
        expect = py_anchors(t)
        assert sorted(got.get(str(i), [])) == expect, f"doc {i}: {t!r}"


# ---------------------------------------------------------- WordPiece


def _wp_py(word, vocab, max_piece_len=12, max_word_len=32):
    if not word or len(word) > max_word_len:
        return "[UNK]"
    pos, toks = 0, []
    while pos < len(word):
        hit = None
        for ln in range(min(max_piece_len, len(word) - pos), 0, -1):
            piece = ("##" if pos else "") + word[pos : pos + ln]
            if piece in vocab:
                hit = ln
                break
        if hit is None:
            return "[UNK]"
        toks.append(("##" if pos else "") + word[pos : pos + hit])
        pos += hit
    return " ".join(toks)


_WP_FULL = (
    {c for c in "abcd"} | {"##" + c for c in "abcd"}
    | {"ab", "##ab", "abc", "##bc", "bca", "##cd", "dd", "##dd"}
)


@given(st.text(alphabet="abcd", min_size=1, max_size=20))
@settings(max_examples=60, deadline=None)
def test_wordpiece_python_roundtrip_property(word):
    """With all single chars in vocab, encode never fails, the greedy
    first piece is the longest vocab prefix, and stripping ## and
    concatenating recovers the word exactly."""
    enc = _wp_py(word, _WP_FULL)
    assert enc != "[UNK]"
    pieces = enc.split(" ")
    assert "".join(p[2:] if p.startswith("##") else p for p in pieces) == word
    first = pieces[0]
    for ln in range(len(first) + 1, min(12, len(word)) + 1):
        assert word[:ln] not in _WP_FULL


def test_wordpiece_spark_equals_python_on_fuzz_corpus(spark):
    """Pin the Spark walk to the python oracle on an exhaustive short-
    word corpus (every a-d string up to length 4 + a few long ones)."""
    import itertools

    from ocr_search_spark.training.wordpiece import wordpiece_encode

    words = [
        "".join(t)
        for n in range(1, 5)
        for t in itertools.product("abcd", repeat=n)
    ] + ["abcdabcdabcdabcd", "d" * 33, "ddddabc"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: r["encoded"]
        for r in wordpiece_encode(df, sorted(_WP_FULL)).collect()
    }
    assert got == {w: _wp_py(w, _WP_FULL) for w in words}


def test_cusum_closed_form_equals_recursion(spark):
    """Window closed form == the sequential max(0, ·) recursion on
    random series, and the alarm fires exactly at the injected shift."""
    import random

    from pyspark.sql import functions as F  # noqa: F401

    from ocr_search_spark.operators.profile import cusum_series

    rng = random.Random(24)
    rows, want = [], {}
    for key in ("a", "b"):
        xs = [rng.randrange(5, 15) for _ in range(30)]
        if key == "a":
            xs[20:] = [x + 25 for x in xs[20:]]  # level shift at t=20
        su = sd = 0
        for t, x in enumerate(xs):
            rows.append((key, t, x))
            su = max(0, su + (x - 10 - 2))
            sd = max(0, sd + (10 - x - 2))
            want[(key, t)] = (su, sd)
    df = spark.createDataFrame(rows, "k string, t int, x long")
    got = {
        (r["k"], r["t"]): (r["s_up"], r["s_down"], r["alarm_up"])
        for r in cusum_series(df, ["k"], "t", "x", mu=10, slack=2,
                              threshold=60).collect()
    }
    for kt, (su, sd) in want.items():
        assert got[kt][:2] == (su, sd), kt
    # the shifted key alarms after t=20; the calm key never does
    assert any(got[("a", t)][2] for t in range(21, 30))
    assert not any(got[("b", t)][2] for t in range(30))


def test_holt_forecast_fold_vs_python(spark):
    import random

    from ocr_search_spark.operators.profile import holt_forecast

    rng = random.Random(24)
    rows, want = [], {}
    a, be = 300_000, 100_000
    for key in ("up", "flat", "one"):
        n = 1 if key == "one" else 40
        xs = []
        for t in range(n):
            base = 100 + (6 * t if key == "up" else 0)
            xs.append(base + rng.randrange(-5, 6))
            rows.append((key, t, xs[-1]))

        def tdiv(v):  # Spark's `div` truncates toward zero, not floor
            return -((-v) // 1_000_000) if v < 0 else v // 1_000_000

        l, b = xs[0] * 1_000_000, 0
        for x in xs[1:]:
            l2 = tdiv(a * x * 1_000_000 + (1_000_000 - a) * (l + b))
            b = tdiv(be * (l2 - l) + (1_000_000 - be) * b)
            l = l2
        want[key] = (n, tdiv(l), b, tdiv(l + 3 * b))
    df = spark.createDataFrame(rows, "k string, t int, x long")
    got = {r["k"]: (r["n_obs"], r["level"], r["trend_e6"], r["forecast"])
           for r in holt_forecast(df.repartition(4), ["k"], "t", "x",
                                  horizon=3).collect()}
    assert got == want
    # the slope-6 series learns a positive per-step trend near 6e6
    assert 3_000_000 < got["up"][2] < 9_000_000
    assert abs(got["flat"][2]) < 1_000_000
    import pytest
    with pytest.raises(ValueError):
        holt_forecast(df, ["k"], "t", "x", alpha_e6=0)


def test_k_anonymity_hand_case(spark):
    import pytest

    from ocr_search_spark.operators.profile import k_anonymity

    rows = [("us", "en")] * 5 + [("us", "fr")] * 2 + [("de", "en")] * 1
    df = spark.createDataFrame(rows, "country string, lang string")
    r = k_anonymity(df, ["country", "lang"], k=3).collect()[0]
    assert (r["n_rows"], r["n_classes"], r["k_anonymity"]) == (8, 3, 1)
    assert r["n_below_k"] == 3  # the 2-row and 1-row classes
    assert r["below_k_e6"] == 3 * 1_000_000 // 8
    with pytest.raises(ValueError):
        k_anonymity(df, [], 3)
    with pytest.raises(ValueError):
        k_anonymity(df, ["lang"], 0)


def test_l_diversity_homogeneity_attack_case(spark):
    """A large-k class with ONE sensitive value is exactly what
    l-diversity catches and k-anonymity misses."""
    import pytest

    from ocr_search_spark.operators.profile import k_anonymity, l_diversity

    rows = [("us", "flu")] * 50 + [("de", "flu")] * 5 + [("de", "ok")] * 5
    df = spark.createDataFrame(rows, "country string, dx string")
    k = k_anonymity(df, ["country"], k=5).collect()[0]
    assert k["k_anonymity"] == 10 and k["n_below_k"] == 0  # k says fine
    ld = l_diversity(df, ["country"], "dx", l=2).collect()[0]
    assert (ld["n_classes"], ld["l_diversity"], ld["n_classes_below_l"]) == (2, 1, 1)
    with pytest.raises(ValueError):
        l_diversity(df, [], "dx")


def test_benford_audit_log_uniform_vs_uniform(spark):
    """Exponentially-grown values track Benford closely; uniform values
    deviate hard on digit 1; zero/negative rows excluded; empty digits
    present."""
    from ocr_search_spark.operators.profile import benford_audit

    grown = [(int(1.07 ** i),) for i in range(60, 400)]
    g = benford_audit(
        spark.createDataFrame(grown, "v long"), "v"
    ).collect()
    gd = {r["digit"]: r for r in g}
    assert sum(r["n"] for r in g) == len(grown)
    assert gd[1]["dev_e6"] < 40_000  # within 4 points of 30.1%
    uni = [(i,) for i in range(1000, 2000)] + [(0,), (-5,)]
    u = benford_audit(spark.createDataFrame(uni, "v long"), "v").collect()
    ud = {r["digit"]: r for r in u}
    assert ud[1]["p_e6"] == 1_000_000 and ud[1]["dev_e6"] > 600_000
    assert ud[9]["n"] == 0 and sum(r["n"] for r in u) == 1000


def test_theil_sen_robust_to_outlier_vs_python(spark):
    """Python replay parity, and the robustness headline: one wild
    outlier moves OLS but not the Theil-Sen median slope."""
    from ocr_search_spark.operators.profile import theil_sen_slope

    def tdiv(v, d):
        q = abs(v) * 1_000_000 // abs(d)
        return -q if (v < 0) != (d < 0) else q

    rows, want = [], {}
    for key, outlier in (("clean", False), ("dirty", True)):
        pts = [(t, 10 + 3 * t) for t in range(12)]
        if outlier:
            pts[6] = (6, 10_000)
        rows += [(key, t, x) for t, x in pts]
        slopes = sorted(
            (tdiv(x2 - x1, t2 - t1), t1, t2)
            for i, (t1, x1) in enumerate(pts)
            for (t2, x2) in pts[i + 1:]
        )
        m = len(slopes)
        want[key] = (len(pts), m, slopes[(m + 1) // 2 - 1][0])
    df = spark.createDataFrame(rows, "k string, t long, x long")
    got = {r["k"]: (r["n_points"], r["n_pairs"], r["slope_e6"])
           for r in theil_sen_slope(df, ["k"], "t", "x").collect()}
    assert got == want
    assert got["clean"][2] == 3_000_000
    assert got["dirty"][2] == 3_000_000  # the median shrugs the outlier off


def test_chi_square_independence_replay_and_extremes(spark):
    """Python replay parity incl. an EMPTY cell; independent columns
    give tiny chi2, a deterministic association a huge one."""
    from ocr_search_spark.operators.profile import chi_square_independence

    rows = ([("a", "x")] * 30 + [("a", "y")] * 10
            + [("b", "x")] * 10 + [("b", "y")] * 30 + [("c", "x")] * 8)
    df = spark.createDataFrame(rows, "r string, c string")
    got = chi_square_independence(df, "r", "c").collect()[0]
    # python replay over the full grid (c,y) empty cell included
    from collections import Counter

    obs = Counter(rows)
    rmarg = Counter(r for r, _ in rows)
    cmarg = Counter(c for _, c in rows)
    n = len(rows)
    chi = 0
    for r in rmarg:
        for c in cmarg:
            o, R, C = obs.get((r, c), 0), rmarg[r], cmarg[c]
            chi += ((o * n - R * C) ** 2 * 1_000_000) // (n * R * C)
    assert (got["n"], got["dof"], got["chi2_e6"]) == (n, 2, chi)
    assert got["chi2_e6"] > 5_991_000  # rejects independence at dof 2
    ind = spark.createDataFrame(
        [(f"r{i % 2}", f"c{i % 3}") for i in range(600)], "r string, c string"
    )
    assert chi_square_independence(ind, "r", "c").collect()[0]["chi2_e6"] == 0


def test_chi_square_independence_large_table_no_overflow(spark):
    """A 2x2 table with 200k rows and a strong (near-diagonal)
    association: (O·N − R·C)² ~ 1e20 overflows int64 — the decimal
    (38,0) two-step floor must still be bit-exact vs the big-int
    Python replay (ADVICE r3, high)."""
    from collections import Counter

    from ocr_search_spark.operators.profile import chi_square_independence

    counts = {("a", "x"): 99_000, ("a", "y"): 1_000,
              ("b", "x"): 2_000, ("b", "y"): 98_000}
    df = spark.createDataFrame(
        [(r, c, cnt) for (r, c), cnt in counts.items()],
        "r string, c string, cnt long",
    ).selectExpr("r", "c", "explode(sequence(1, cnt))")
    got = chi_square_independence(df, "r", "c").collect()[0]
    obs = Counter()
    for k, v in counts.items():
        obs[k] = v
    rmarg = Counter({"a": 100_000, "b": 100_000})
    cmarg = Counter({"x": 101_000, "y": 99_000})
    n = 200_000
    chi = 0
    for r in rmarg:
        for c in cmarg:
            o, R, C = obs[(r, c)], rmarg[r], cmarg[c]
            chi += ((o * n - R * C) ** 2 * 1_000_000) // (n * R * C)
    assert (got["n"], got["dof"], got["chi2_e6"]) == (n, 1, chi)
    assert got["chi2_e6"] > 10**11  # the statistic really is huge


def test_chi_square_random_tables_vs_bigint_replay(spark):
    """Structural fuzz for the decimal(38,0) path: random r x c tables
    (sparse — empty cells included by construction) must match the
    exact big-int Python replay cell for cell."""
    import random
    from collections import Counter

    from ocr_search_spark.operators.profile import chi_square_independence

    rng = random.Random(41)
    for trial in range(8):
        r_lv = rng.randint(2, 5)
        c_lv = rng.randint(2, 5)
        rows = []
        for ri in range(r_lv):
            for ci in range(c_lv):
                if rng.random() < 0.25:
                    continue  # leave a real empty cell in the grid
                rows += [(f"r{ri}", f"c{ci}")] * rng.randint(1, 40)
        obs = Counter(rows)
        rmarg = Counter(x for x, _ in rows)
        cmarg = Counter(y for _, y in rows)
        if len(rmarg) < 2 or len(cmarg) < 2:
            continue
        n = len(rows)
        chi = 0
        for rr in rmarg:
            for cc in cmarg:
                o, R, C = obs.get((rr, cc), 0), rmarg[rr], cmarg[cc]
                chi += ((o * n - R * C) ** 2 * 1_000_000) // (n * R * C)
        df = spark.createDataFrame(rows, "r string, c string")
        got = chi_square_independence(df, "r", "c").collect()[0]
        assert (got["n"], got["n_row_levels"], got["n_col_levels"],
                got["chi2_e6"]) == (n, len(rmarg), len(cmarg), chi), trial


def test_fim_transform_random_corpus_reassembles(spark):
    """Seeded random corpus (lengths 0-30, unicode, many below min_len)
    through ONE Spark job: every doc either passes through verbatim or
    reassembles pre+mid+suf == original with a non-empty middle."""
    import random
    import re

    from ocr_search_spark.training.packing import fim_transform

    rng = random.Random(17)
    alphabet = "ab \n.!é中𝔘"
    texts = ["", "a", "ab"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 30)))
        for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {int(r["id"]): r["fim_text"] for r in fim_transform(df).collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        if len(t) < 12:
            assert got[i] == t, (i, t)
        else:
            m = re.fullmatch(r"<PRE>(.*)<SUF>(.*)<MID>(.*)", got[i], re.S)
            assert m, (i, got[i])
            pre, suf, mid = m.groups()
            assert mid and pre + mid + suf == t, (i, t)

"""Behavior-level tests for the round-12 operator families: the
cross-model win-rate matrix, the integer Bradley-Terry strength fit,
the derived-judge Fleiss agreement, and the tokenizer compression
benchmark."""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from hops_spark.ops.preference import (BT_SCALE, bradley_terry_fit,
                                       cross_model_outcomes,
                                       fleiss_agreement, pair_judge_votes,
                                       pairwise_win_matrix, scored_docs)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string")


RICH = "a perfectly ordinary sentence with many distinct words here"
POOR = "zz zz zz"


def test_cross_model_outcomes_and_matrix(spark):
    """Pairs (0,1) m-vs-n and (2,3) n-vs-m both canonicalize to
    (m, n); the rich text wins both; the same-source pair (4,5)
    is dropped."""
    docs = _docs(spark, [
        (0, "m", RICH), (1, "n", POOR),      # m wins
        (2, "n", POOR), (3, "m", RICH),      # m wins (odd side)
        (4, "m", RICH), (5, "m", POOR),      # same source: no outcome
    ])
    out = cross_model_outcomes(scored_docs(docs)).collect()
    assert len(out) == 2
    assert all(r["model_a"] == "m" and r["model_b"] == "n" for r in out)
    assert all(r["winner_model"] == "m" for r in out)
    wm = pairwise_win_matrix(
        cross_model_outcomes(scored_docs(docs))).collect()
    assert len(wm) == 1
    r = wm[0]
    assert (r["n_pairs"], r["wins_a"], r["wins_b"]) == (2, 2, 0)
    assert r["winrate_a_ppm"] == 1_000_000


def test_bradley_terry_orders_and_normalizes():
    """A clear dominance chain a > b > c comes out ordered; strengths
    renormalize to ~m * 1e6 (floor remainders only)."""
    s = bradley_terry_fit([("a", "b", 9, 1), ("b", "c", 9, 1),
                           ("a", "c", 9, 1)])
    assert s["a"] > s["b"] > s["c"] > 0
    assert 3 * BT_SCALE - 3 <= sum(s.values()) <= 3 * BT_SCALE


def test_bradley_terry_symmetric_is_uniform():
    """A perfectly balanced matrix fits equal strengths."""
    s = bradley_terry_fit([("a", "b", 5, 5), ("b", "c", 5, 5),
                           ("a", "c", 5, 5)])
    assert len(set(s.values())) == 1


def test_bradley_terry_tracks_float_reference():
    """The integer fixed point lands within ~1e-4 relative of a float
    MM run on the same matrix (truncation at BT_BIG scale is far below
    the fit's own convergence tolerance)."""
    mat = [("a", "b", 7, 3), ("b", "c", 6, 4), ("a", "c", 8, 2),
           ("c", "d", 5, 5), ("a", "d", 9, 1)]
    s = bradley_terry_fit(mat)
    wins, n = {}, {}
    for ma, mb, wa, wb in mat:
        wins[ma] = wins.get(ma, 0) + wa
        wins[mb] = wins.get(mb, 0) + wb
        n[(ma, mb)] = wa + wb
    f = {m: 1.0 for m in wins}
    for _ in range(8):
        den = {m: 0.0 for m in f}
        for (ma, mb), nij in n.items():
            t = nij / (f[ma] + f[mb])
            den[ma] += t
            den[mb] += t
        raw = {m: wins[m] / den[m] for m in f}
        tot = sum(raw.values())
        f = {m: raw[m] * len(f) / tot for m in f}
    for m in f:
        assert abs(s[m] / BT_SCALE - f[m]) < 1e-4 * max(f[m], 1.0), m


def test_pair_judge_votes_disagreement(spark):
    """A pair where the judges split: doc 0 has the better quality
    score and more distinct words, doc 1 has MORE words (repetition).
    votes_a = quality + lexdiv = 2."""
    docs = _docs(spark, [
        (0, "s", "good clean diverse prose here"),
        (1, "s", "zz zz zz zz zz zz zz zz zz zz zz zz"),
    ])
    sd = scored_docs(docs)
    r = {x["doc_id"]: x for x in sd.collect()}
    assert r[0]["quality_score_ppm"] > r[1]["quality_score_ppm"]
    assert r[0]["n_words"] < r[1]["n_words"]
    v = pair_judge_votes(sd).collect()[0]
    assert v["votes_a"] == 2


def test_fleiss_agreement_exact_fractions(spark):
    """kappa_ppm equals floor(kappa * 1e6) computed with exact
    Fractions on a hand-built vote multiset (covers negative-kappa
    floor semantics and the unanimous edge)."""
    import pyspark.sql.functions as F  # noqa: F811

    def run(votes):
        df = spark.createDataFrame(
            [(i, "s", v) for i, v in enumerate(votes)],
            "pair_id long, source string, votes_a long")
        return fleiss_agreement(df, n_judges=3).collect()[0]

    def truth(votes):
        k, n = 3, len(votes)
        s = sum(v * (v - 1) + (k - v) * (k - v - 1) for v in votes)
        a = sum(votes)
        pbar = Fraction(s, n * k * (k - 1))
        pe = Fraction(a * a + (n * k - a) ** 2, (n * k) ** 2)
        if pe == 1:
            return 1_000_000
        kap = (pbar - pe) / (1 - pe)
        return (kap.numerator * 1_000_000) // kap.denominator  # floor

    # mixed agreement with a negative-kappa profile: every item 2-1
    # split but global votes balanced -> pbar = 1/3 < pe
    for votes in ([2, 1, 2, 1], [3, 3, 0, 0], [3, 2, 1, 0, 3, 1]):
        got = run(votes)
        assert got["kappa_ppm"] == truth(votes), votes
    neg = run([2, 1, 2, 1])
    assert neg["kappa_ppm"] < 0                    # worse than chance
    # unanimous edge: pe = 1 -> defined as 1e6
    uni = run([3, 3, 3])
    assert uni["kappa_ppm"] == 1_000_000
    assert uni["unanimous_ppm"] == 1_000_000


def test_tokenizer_compression_laws(spark, monkeypatch):
    """Family laws over a tiny corpus: every tokenizer row shares the
    identical byte/char totals (same corpus), subword token counts are
    >= the whitespace word count (merges only split words), and BPE
    with the fixed merges compresses 'the'/'in'/'an' words below
    char-level."""
    import hops_spark.queries.textops as T

    docs = spark.createDataFrame(
        [(0, "the thin man in the inn"), (1, "than the van ran in")],
        "doc_id long, text string")
    monkeypatch.setattr(
        T, "load_table",
        lambda spark_, sf_dir, name: docs)
    rows = {r["tokenizer"]: r
            for r in T.tokenizer_compression(spark, "ignored").collect()}
    assert set(rows) == {"whitespace", "bpe", "wordpiece", "unigram"}
    bytes_ = {r["total_bytes"] for r in rows.values()}
    chars_ = {r["total_chars"] for r in rows.values()}
    assert len(bytes_) == 1 and len(chars_) == 1
    ws = rows["whitespace"]
    n_words = ws["n_tokens"]
    assert n_words == 11
    for t in ("bpe", "wordpiece", "unigram"):
        assert rows[t]["n_tokens"] >= n_words, t
        # tokens never exceed characters
        assert rows[t]["n_tokens"] <= rows[t]["total_chars"], t
    # 'the' is a single BPE token after (t,h)+(th,e); 'in' after (i,n)
    # -> BPE strictly beats the char count 19
    assert rows["bpe"]["n_tokens"] < rows["bpe"]["total_chars"]
    # per-token metrics are the exact integer ratios
    for r in rows.values():
        assert r["bytes_per_token_milli"] == (
            r["total_bytes"] * 1000 // r["n_tokens"])


def test_best_of_n_exact_subset_enumeration(spark):
    """The order-statistic identity equals literal enumeration of all
    C(4,k) subsets on a hand-built group, and the incomplete trailing
    group drops."""
    from itertools import combinations

    from hops_spark.ops.preference import best_of_n_curve

    scores = [100, 400, 200, 300]          # group 0 (docs 0..3)
    docs = spark.createDataFrame(
        [(i, "s", s) for i, s in enumerate(scores)]
        + [(4, "s", 999)],                  # incomplete group 1: drops
        "doc_id long, source string, quality_score_ppm long")
    got = {r["k"]: r for r in
           best_of_n_curve(docs, group_size=4, ks=(1, 2, 4)).collect()}
    for k in (1, 2, 4):
        subs = list(combinations(scores, k))
        truth = sum(max(s) for s in subs) // len(subs)   # exact: 1 group
        assert got[k]["n_groups"] == 1
        assert got[k]["best_of_k_mean_ppm"] == truth, k
    assert got[1]["best_of_k_mean_ppm"] == 250
    assert got[4]["best_of_k_mean_ppm"] == 400


def test_bt_calibration_pred_and_gap(spark):
    """pred_ppm is the exact integer s_a*1e6 div (s_a+s_b) and gap is
    |emp - pred|; a two-model matrix fits its own empirical rate
    almost exactly (BT with two models is saturated)."""
    from hops_spark.ops.preference import (bradley_terry_fit,
                                           bt_calibration)

    wm = spark.createDataFrame(
        [("a", "b", 10, 7, 3, 700_000)],
        "model_a string, model_b string, n_pairs long, wins_a long,"
        "wins_b long, winrate_a_ppm long")
    s = bradley_terry_fit([("a", "b", 7, 3)])
    r = bt_calibration(wm, s).collect()[0]
    assert r["pred_ppm"] == s["a"] * 1_000_000 // (s["a"] + s["b"])
    assert r["gap_ppm"] == abs(r["emp_ppm"] - r["pred_ppm"])
    assert abs(r["pred_ppm"] - 700_000) < 100   # saturated 2-model fit


# --- hypothesis property laws for the Bradley-Terry integer fit ---------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_models = ["a", "b", "c", "d"]
_cell = st.tuples(st.integers(0, 3), st.integers(0, 3),
                  st.integers(0, 50), st.integers(0, 50))


def _mat(cells):
    """Build a valid unordered win matrix from raw hypothesis cells."""
    agg = {}
    for i, j, wa, wb in cells:
        if i == j or wa + wb == 0:
            continue
        ma, mb = sorted((_models[i], _models[j]))
        pa, pb = (wa, wb) if _models[i] == ma else (wb, wa)
        oa, ob = agg.get((ma, mb), (0, 0))
        agg[(ma, mb)] = (oa + pa, ob + pb)
    return [(ma, mb, wa, wb) for (ma, mb), (wa, wb) in sorted(agg.items())]


@settings(max_examples=40, deadline=None)
@given(cells=st.lists(_cell, min_size=1, max_size=10),
       scale=st.integers(2, 20))
def test_bt_fit_count_scale_invariance(cells, scale):
    """Multiplying every cell of the win matrix by a constant leaves
    the fitted strengths essentially unchanged (Bradley-Terry depends
    only on win FRACTIONS; the integer pipeline may wobble by a few
    micro from truncation)."""
    from hops_spark.ops.preference import bradley_terry_fit

    mat = _mat(cells)
    if not mat:
        return
    s1 = bradley_terry_fit(mat)
    s2 = bradley_terry_fit([(a, b, wa * scale, wb * scale)
                            for a, b, wa, wb in mat])
    for m in s1:
        assert abs(s1[m] - s2[m]) <= max(5, s1[m] // 100_000), (m, s1, s2)


@settings(max_examples=40, deadline=None)
@given(cells=st.lists(_cell, min_size=1, max_size=10))
def test_bt_fit_label_permutation_equivariance(cells):
    """Renaming the models permutes the strengths with them — the fit
    depends on the matrix, not on label identity (iteration order in
    the python loop never leaks into the result)."""
    from hops_spark.ops.preference import bradley_terry_fit

    mat = _mat(cells)
    if not mat:
        return
    ren = {"a": "z9", "b": "y8", "c": "x7", "d": "w6"}
    flipped = []
    for a, b, wa, wb in mat:
        ra, rb = ren[a], ren[b]
        if ra <= rb:
            flipped.append((ra, rb, wa, wb))
        else:
            flipped.append((rb, ra, wb, wa))
    s1 = bradley_terry_fit(mat)
    s2 = bradley_terry_fit(flipped)
    assert {ren[m]: v for m, v in s1.items()} == s2


def test_matryoshka_prefix_sufficiency(spark, monkeypatch):
    """When all information lives in the first 8 components (rest
    zero), every truncation level d >= 8 reproduces the full-dim
    top-k exactly: recall 1e6 across the whole curve."""
    import hops_spark.queries.similarity as S

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]
             + [0.0] * 56, 0) for i in range(20)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(S, "load_table",
                        lambda spark_, sf_dir, name: emb)
    out = S.matryoshka_recall(spark, "ignored").collect()
    assert len(out) == 3 * 5            # 3 truncation dims x 5 queries
    assert all(r["recall_ppm"] == 1_000_000 for r in out)


def test_pass_at_k_exact_subset_enumeration(spark):
    """pass@k equals literal enumeration over all C(4,k) subsets
    ('passes iff any member passes') for every passing-count c."""
    from itertools import combinations

    from hops_spark.ops.preference import pass_at_k

    # groups engineered to c = 0, 1, 2, 3 passing responses
    T = 2_500_000
    rows = []
    for g, c in enumerate([0, 1, 2, 3]):
        for j in range(4):
            rows.append((g * 4 + j, "s", T + 1 if j < c else 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, quality_score_ppm long")
    got = {r["k"]: r["pass_at_k_ppm"]
           for r in pass_at_k(docs, group_size=4, ks=(1, 2, 4)).collect()}
    for k in (1, 2, 4):
        num = den = 0
        for c in [0, 1, 2, 3]:
            flags = [1] * c + [0] * (4 - c)
            subs = list(combinations(flags, k))
            num += sum(1 for s in subs if any(s))
            den += len(subs)
        assert got[k] == num * 1_000_000 // den, k

"""Round-9 operator tests: WordPiece greedy segmentation, interpolated
Kneser-Ney scoring, PMI collocations, multi-touch attribution."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F


def test_wordpiece_greedy_matches_reference(spark):
    """Greedy longest-match-first agrees with a pure-python reference
    on every distinct word; continuation pieces carry the ## prefix;
    totality holds (every word segments without an UNK branch); words
    longer than max_len take the char fallback."""
    from hops_spark.ops.unigram import word_counts
    from hops_spark.ops.wordpiece import wp_greedy_segment, wp_piece_table

    docs = spark.createDataFrame(
        [(i, "unhappy unhappy undo doing doing xq zzzzzzzzzzzz")
         for i in range(3)],
        "doc_id long, text string")
    wc = word_counts(docs)
    pieces = wp_piece_table(wc, top_k=10, min_count=2, max_piece=4)
    vocab = {r["piece"] for r in pieces.collect()}
    # every initial char and every ##-continuation char is present
    for w in ("unhappy", "undo", "doing", "xq"):
        assert w[0] in vocab
        for c in w[1:]:
            assert "##" + c in vocab, c
    # multi-char forms are counted separately per position kind
    assert any(p.startswith("##") and len(p) > 3 for p in vocab)

    def ref(w):
        out, pos = [], 0
        while pos < len(w):
            for n in range(min(4, len(w) - pos), 0, -1):
                form = w[pos:pos + n] if pos == 0 else "##" + w[pos:pos + n]
                if form in vocab:
                    out.append(form)
                    pos += n
                    break
        return "+".join(out), len(out)

    got = {r["w"]: (r["seg"], r["n_pieces"])
           for r in wp_greedy_segment(wc, pieces, max_len=10).collect()}
    for w in ("unhappy", "undo", "doing", "xq"):
        assert got[w] == ref(w), w
    # len 12 > max_len 10 -> char fallback with ## continuations
    seg, n = got["zzzzzzzzzzzz"]
    assert seg == "z+" + "+".join("##z" for _ in range(11)) and n == 12


def test_kn_scores_match_reference_and_normalize(spark):
    """Per-bigram KN micro-nat costs match a python replication of
    Chen & Goodman's interpolated formula, and for each context the
    full-vocab probability mass sums to exactly 1 (the property
    add-one trades away: KN's discount is mass-conserving)."""
    from hops_spark.ops.lm import (D_KN, MICRO, doc_bigram_counts,
                                   doc_kn_scores, kn_count_table)

    docs = spark.createDataFrame(
        [(1, "san francisco is big"), (2, "san diego is big"),
         (3, "big is big san francisco")],
        "doc_id long, text string")
    per = doc_bigram_counts(docs)
    tbl = {(r["w1"], r["w2"]): (r["n"], r["n_ctx"], r["n1f"], r["n1b"],
                                r["t"])
           for r in kn_count_table(per).collect()}

    def p_kn(key):
        n, n_ctx, n1f, n1b, t = tbl[key]
        return (max(n - D_KN, 0.0) + D_KN * n1f * (n1b / t)) / n_ctx

    # scored rows match the python formula
    got = {r["doc_id"]: (r["n_bigrams"], r["kn_nll_micro"])
           for r in doc_kn_scores(docs).collect()}
    bigrams = {r["doc_id"]: [((r2["w1"], r2["w2"]), r2["n_local"])
                             for r2 in per.filter(
                                 F.col("doc_id") == r["doc_id"]).collect()]
               for r in per.select("doc_id").distinct().collect()}
    for doc_id, (n_bg, nll) in got.items():
        exp = sum(round(-math.log(p_kn(k)) * MICRO) * nl
                  for k, nl in bigrams[doc_id])
        assert nll == exp, doc_id
        assert n_bg == sum(nl for _, nl in bigrams[doc_id])

    # mass conservation: for each context, sum over the FULL vocab of
    # interpolated-KN probabilities is exactly 1
    vocab = {w2 for (_, w2) in tbl}
    n1b_of = {w2: next(v[3] for k, v in tbl.items() if k[1] == w2)
              for w2 in vocab}
    t = next(iter(tbl.values()))[4]
    for w1 in {a for (a, _) in tbl}:
        n_ctx = next(v[1] for k, v in tbl.items() if k[0] == w1)
        n1f = next(v[2] for k, v in tbl.items() if k[0] == w1)
        total = 0.0
        for w2 in vocab:
            n = tbl.get((w1, w2), (0,))[0]
            total += (max(n - D_KN, 0.0)
                      + D_KN * n1f * (n1b_of[w2] / t)) / n_ctx
        assert abs(total - 1.0) < 1e-9, w1


def test_pmi_ranks_exclusive_pair_over_frequent_pair(spark):
    """A pair that ONLY occurs together outranks a more frequent pair
    of promiscuous words; sub-min_cooc pairs are excluded; the value
    matches the python formula."""
    from hops_spark.ops.retrieval import pmi_topk

    rows = []
    for i in range(6):
        rows.append((i, "zork quux"))            # exclusive pair ×6
    for i in range(6, 26):
        rows.append((i, "the cat the dog"))      # 'the' pairs with both
    rows.append((100, "rare once"))              # below min_cooc
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_topk(docs, window=2, k=50, min_cooc=5).collect()
    pairs = {(r["word_a"], r["word_b"]): (r["n_cooc"], r["pmi_micro"])
             for r in out}
    assert ("once", "rare") not in pairs
    assert out[0]["word_a"] == "quux" and out[0]["word_b"] == "zork"
    # python replication for the top pair
    nn = sum(n for n, _ in pairs.values())
    m = {}
    for (a, b), (n, _) in pairs.items():
        m[a] = m.get(a, 0) + n
        m[b] = m.get(b, 0) + n
    n_zq = pairs[("quux", "zork")][0]
    exp = round(math.log((4.0 * n_zq * nn) / (m["quux"] * m["zork"]))
                * 1_000_000)
    assert pairs[("quux", "zork")][1] == exp


def test_attribution_credit_reference(spark):
    """Hand-built log: per-conversion linear credit floors to
    1e6 div n_touch, last touch resolves by (ts desc, id desc), the
    7-day window excludes stale touches, and touchless conversions
    contribute nothing."""
    from hops_spark.ops.attribution import attribution_credit

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ev(eid, uid, offset_min, etype):
        return (eid, uid, t0 + dt.timedelta(minutes=offset_min), etype)

    rows = [
        # user 1: click, view, then purchase -> 2 touches, last=view
        ev(1, 1, -30, "click"), ev(2, 1, -10, "view"),
        ev(3, 1, 0, "purchase"),
        # user 2: two same-ts touches (id tiebreak: 12 > 11 -> view),
        # then purchase -> 2 touches
        ev(11, 2, -5, "click"), ev(12, 2, -5, "view"),
        ev(13, 2, 0, "purchase"),
        # user 3: touch 8 days before purchase -> outside window
        ev(21, 3, -8 * 24 * 60, "signup"), ev(22, 3, 0, "purchase"),
        # user 4: 3 clicks then purchase -> credit 333333 each
        ev(31, 4, -3, "click"), ev(32, 4, -2, "click"),
        ev(33, 4, -1, "click"), ev(34, 4, 0, "purchase"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = {r["channel"]: (r["n_touches"], r["linear_credit_ppm"],
                          r["last_touch_convs"])
           for r in attribution_credit(events).collect()}
    assert got["click"] == (1 + 1 + 3, 500_000 + 500_000 + 3 * 333_333, 1)
    assert got["view"] == (2, 1_000_000, 2)
    assert "signup" not in got


def test_label_propagation_self_vote_and_cc_agreement(spark):
    """(1) An isolated pair resolves to the smaller label in one round
    (the self-vote oscillation guard) and stays there; (2) a majority
    vote beats the min label when counts differ; (3) on the sf0.001
    minhash near-dup graph the 3-round labels equal connected
    components' min-id labels (tight clusters)."""
    from hops_spark.ops.graph import (connected_components,
                                      label_propagation_sync)

    # (1) pair: pure neighbor voting would swap 7<->9 forever
    pair = spark.createDataFrame([(9, 7)], "src long, dst long")
    got = {r["node"]: r["label"]
           for r in label_propagation_sync(pair, iters=3).collect()}
    assert got == {7: 7, 9: 7}

    # (2) hub node 5 sees labels {1, 1, 9}: majority 1 wins over its
    # own 5 even though 5 < 9; nodes 1,2 (clique with 5) keep 1
    edges = spark.createDataFrame(
        [(1, 2), (1, 5), (2, 5), (9, 5)], "src long, dst long")
    got = {r["node"]: r["label"]
           for r in label_propagation_sync(edges, iters=3).collect()}
    assert got[5] == 1 and got[1] == 1 and got[2] == 1

    # (3) agreement with CC on the real near-dup graph
    from hops_spark.io.readers import load_table
    from hops_spark.ops import dedup as D
    from hops_spark.queries.dedup import (BANDS, N_HASHES, SHINGLE_N,
                                          THRESHOLD)
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                  SHINGLE_N, THRESHOLD)
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    lpa = {r["node"]: r["label"]
           for r in label_propagation_sync(e, iters=3).collect()}
    cc = {r["node"]: r["component"]
          for r in connected_components(e).collect()}
    assert lpa == cc


def test_interval_overlap_join_exactly_once_vs_naive(spark):
    """Every overlapping pair appears EXACTLY once (no distinct pass)
    even when both intervals span several buckets; result set equals
    the naive quadratic join on a grid of boundary-hugging cases."""
    from hops_spark.ops.join import interval_overlap_join

    # intervals engineered around the W=10 bucket grid: containment,
    # straddle, exact-touch at a boundary, disjoint, multi-bucket span
    left = spark.createDataFrame(
        [(1, 0, 35),    # spans buckets 0..3
         (2, 12, 14),   # inside bucket 1
         (3, 29, 31),   # straddles 2|3
         (4, 50, 50)],  # point
        "click_id long, l_start long, l_end long")
    right = spark.createDataFrame(
        [(10, 5, 9),    # overlaps 1 only
         (11, 14, 22),  # overlaps 1, 2, 3
         (12, 31, 40),  # overlaps 1, 3
         (13, 50, 59),  # overlaps 4 (exact touch at 50)
         (14, 41, 49)], # overlaps nothing
        "error_id long, r_start long, r_end long")
    got = [(r["click_id"], r["error_id"]) for r in
           interval_overlap_join(left, right, bucket_width=10).collect()]
    naive = {(l[0], r[0])
             for l in left.collect() for r in right.collect()
             if l[1] <= r[2] and r[1] <= l[2]}
    assert sorted(got) == sorted(naive)          # same SET
    assert len(got) == len(set(got))             # exactly once each
    assert (1, 11) in naive and (1, 12) in naive and (4, 13) in naive
    assert all(p[1] != 14 for p in naive)


def test_maxsim_ranks_exact_then_fuzzy_then_unrelated(spark):
    """The exact-match doc scores ~|query| (each query term matches
    itself, cos=1); a doc of orthographic variants (shared 3-grams)
    outranks an unrelated doc; every per-term contribution is a max
    over the doc's terms."""
    from hops_spark.ops.retrieval import maxsim_topk

    docs = spark.createDataFrame(
        [(1, "spark merge vector"),
         (2, "sparky merged vectors"),
         (3, "banana apple cherry")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["maxsim"]
           for r in maxsim_topk(docs, ["spark", "merge", "vector"],
                                k=10).collect()}
    assert abs(out[1] - 3.0) < 1e-6
    assert out[1] > out[2] > out[3]

"""Behavior-level tests for the round-11 operator families: the
interpolated-KN trigram ARPA export, the preference-pair derivation
and its audits, and the step-indexed mixture anneal schedule."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_kn3_stats_match_python(spark):
    """All five KN statistic tables equal a direct python recount on a
    tiny corpus."""
    from hops_spark.ops.lm import kn3_stat_tables, trigram_count_table

    texts = {1: "a b c a b c", 2: "a b d", 3: "b c a b"}
    c3 = trigram_count_table(_docs(spark, list(texts.items())))
    # python truth
    tri = {}
    for t in texts.values():
        w = t.split()
        for i in range(len(w) - 2):
            k = (w[i], w[i + 1], w[i + 2])
            tri[k] = tri.get(k, 0) + 1
    got = {(r["w1"], r["w2"], r["w3"]): r["n"] for r in c3.collect()}
    assert got == tri
    st = kn3_stat_tables(c3)
    c12 = {(r["w1"], r["w2"]): (r["c12"], r["n1f12"])
           for r in st["c12"].collect()}
    for (w1, w2), (tot, fan) in c12.items():
        assert tot == sum(n for (a, b, _), n in tri.items()
                          if (a, b) == (w1, w2))
        assert fan == len({c for (a, b, c) in tri if (a, b) == (w1, w2)})
    cc2 = {(r["w2"], r["w3"]): r["cc"] for r in st["cc2"].collect()}
    for (w2, w3), cc in cc2.items():
        assert cc == len({a for (a, b, c) in tri if (b, c) == (w2, w3)})
    assert st["t2"].collect()[0]["t2"] == len(cc2)


def test_kn3_arpa_probabilities_sum_to_one_per_context(spark):
    """For every (w1, w2) context whose trigrams are ALL unpruned, the
    interpolated-KN trigram probabilities plus the backoff mass routed
    through P2 must sum to ~1 — the distributional law that catches
    any wrong denominator."""
    from hops_spark.ops.lm import (KN3_P2, kn3_arpa, kn3_stat_tables,
                                   trigram_count_table)

    text = "a b c a b c a b d b c a b c d a b c"
    c3 = trigram_count_table(_docs(spark, [(1, text)]))
    st = kn3_stat_tables(c3)
    # full P3 per trigram (unpruned: prune3=1) from the export
    rows = kn3_arpa(c3, prune3=1).filter("ord = 3").collect()
    p3 = {(r["w1"], r["w2"], r["w3"]): math.exp(-r["nlp_micro"] / 1e6)
          for r in rows}
    # P2 per seen (w2, w3) from the same fixed-shape expression
    p2rows = (st["cc2"].join(st["mid"], "w2").join(st["uni"], "w3")
              .crossJoin(F.broadcast(st["t2"]))
              .select("w2", "w3", F.expr(KN3_P2).alias("p2")).collect())
    p2 = {(r["w2"], r["w3"]): r["p2"] for r in p2rows}
    # second backoff level: unseen (w2, w3) evaluates as bow1(w2)*Pc(w3)
    mid = {r["w2"]: (r["ccd2"], r["n1fc2"]) for r in st["mid"].collect()}
    t2 = st["t2"].collect()[0]["t2"]
    pc = {r["w3"]: r["n1b3"] / t2 for r in st["uni"].collect()}

    def p2_full(y, c):
        if (y, c) in p2:
            return p2[(y, c)]
        ccd2, n1fc2 = mid[y]
        return 0.75 * n1fc2 / ccd2 * pc[c]

    c12v = {(r["w1"], r["w2"]): r["c12"] for r in st["c12"].collect()}
    ctxs = {(a, b) for (a, b, _) in p3}
    for (a, b) in ctxs:
        tri_mass = sum(v for (x, y, _), v in p3.items() if (x, y) == (a, b))
        # the trigram rows already INCLUDE the interpolation term, so
        # summing over the context's seen w3 misses only the (fully
        # backed-off) P2 mass of UNSEEN w3 — add it back explicitly
        seen = {c for (x, y, c) in p3 if (x, y) == (a, b)}
        bow = 0.75 * len(seen) / c12v[(a, b)]
        unseen_mass = bow * sum(p2_full(b, c) for c in pc if c not in seen)
        # tolerance: p3 is reconstructed from integer micro-nats
        # (~5e-7 relative quantization per term)
        assert abs(tri_mass + unseen_mass - 1.0) < 1e-5, (a, b)


def test_kn3_arpa_sections_and_padding(spark):
    """Section shape: ord-3 rows pruned at n>=2; ord-2 rows cover the
    full prefix∪suffix pair inventory with bow 1 (pass-through,
    stored 1e6 linear-micro) for never-prefix pairs and NULL nlp for
    never-suffix pairs; ord-1 covers every continuation word."""
    from hops_spark.ops.lm import kn3_arpa, trigram_count_table

    c3 = trigram_count_table(_docs(spark, [(1, "x y z w"),
                                           (2, "x y z q")]))
    out = kn3_arpa(c3, prune3=2).collect()
    o3 = [r for r in out if r["ord"] == 3]
    assert {(r["w1"], r["w2"], r["w3"]) for r in o3} == {("x", "y", "z")}
    o2 = {(r["w1"], r["w2"]): r for r in out if r["ord"] == 2}
    # (x, y) occurs only doc-initially -> never a suffix pair: NULL nlp
    assert o2[("x", "y")]["nlp_micro"] is None
    assert o2[("x", "y")]["bow_micro"] > 0
    # (z, w) is doc-final -> never a prefix: bow 1 (pass-through,
    # stored 1e6 so the consumer decodes cost -ln(1) = 0), real nlp
    assert o2[("z", "w")]["bow_micro"] == 1_000_000
    assert o2[("z", "w")]["nlp_micro"] is not None
    o1 = {r["w1"] for r in out if r["ord"] == 1}
    assert o1 == {"z", "w", "q"}  # every w3 of some trigram


def test_preference_pairs_choose_higher_score(spark):
    from hops_spark.ops.preference import preference_pairs, scored_docs

    docs = spark.createDataFrame(
        [(0, "s0", "the quick brown fox jumps over the lazy dog again"),
         (1, "s1", "zzz zzz zzz"),
         (2, "s0", "!!!"),
         (3, "s1", "a perfectly ordinary sentence with many words here")],
        "doc_id long, source string, text string")
    pairs = preference_pairs(scored_docs(docs)).collect()
    by_id = {r["pair_id"]: r for r in pairs}
    assert len(by_id) == 2
    # pair 0: doc 0 (rich text) beats doc 1 (repetition)
    assert by_id[0]["chosen_id"] == 0 and by_id[0]["rejected_id"] == 1
    assert by_id[0]["source"] == "s0"          # even doc's source
    # pair 1: doc 3 beats doc 2 (pure punctuation)
    assert by_id[1]["chosen_id"] == 3
    assert all(r["chosen_score"] >= r["rejected_score"] for r in pairs)


def test_preference_pair_tie_breaks_to_even_doc(spark):
    from hops_spark.ops.preference import preference_pairs, scored_docs

    docs = spark.createDataFrame(
        [(0, "s", "same words here"), (1, "s", "same words here")],
        "doc_id long, source string, text string")
    r = preference_pairs(scored_docs(docs)).collect()[0]
    assert r["chosen_id"] == 0 and r["rejected_id"] == 1


def test_pair_overlap_jaccard_exact(spark):
    from hops_spark.ops.preference import pair_overlap

    pairs = spark.createDataFrame(
        [(0, "s", 0, 1, "a b c d", "c d e f"),       # 2/6
         (1, "s", 2, 3, "a b c", "a b c"),           # identical -> 1e6
         (2, "s", 4, 5, "", "x y")],                 # empty chosen -> 0/2
        "pair_id long, source string, chosen_id long, rejected_id long,"
        "chosen_text string, rejected_text string")
    got = {r["pair_id"]: (r["jaccard_ppm"], r["near_dup"])
           for r in pair_overlap(pairs).collect()}
    assert got[0] == (333333, 0)
    assert got[1] == (1000000, 1)
    assert got[2] == (0, 0)


def test_prompt_group_argmax_tie_break(spark):
    from hops_spark.ops.preference import prompt_group_stats, scored_docs

    docs = spark.createDataFrame(
        [(0, "s", "tie words alpha"), (1, "s", "tie words alpha"),
         (2, "s", "!!!"), (3, "s", "tie words alpha")],
        "doc_id long, source string, text string")
    g = prompt_group_stats(scored_docs(docs), group_size=4).collect()
    assert len(g) == 1
    r = g[0]
    assert r["n_responses"] == 4
    assert r["best_doc_id"] == 0          # tie -> lowest doc_id
    assert r["score_margin"] == r["best_score"] - r["worst_score"] > 0


def test_anneal_schedule_endpoints_and_sums(spark):
    """Step 0 reproduces the input mixture, the final step is exactly
    uniform (Hamilton of equal weights), and EVERY step sums to
    exactly 1e6 ppm."""
    from hops_spark.ops.mixture import anneal_schedule

    mix = spark.createDataFrame(
        [("a", 700_000), ("b", 200_000), ("c", 100_000)],
        "source string, weight_ppm long")
    out = anneal_schedule(mix, steps=4).collect()
    per_step = {}
    for r in out:
        per_step.setdefault(r["step"], {})[r["source"]] = r["weight_ppm"]
    assert set(per_step) == {0, 1, 2, 3, 4}
    for step, m in per_step.items():
        assert sum(m.values()) == 1_000_000, step
    assert per_step[0] == {"a": 700_000, "b": 200_000, "c": 100_000}
    # uniform end state: 1e6/3 -> Hamilton gives one +1 to the
    # largest remainder with source tie-break a < b < c
    assert per_step[4] == {"a": 333_334, "b": 333_333, "c": 333_333}
    # monotone: a's weight never increases, c's never decreases
    aw = [per_step[s]["a"] for s in range(5)]
    cw = [per_step[s]["c"] for s in range(5)]
    assert aw == sorted(aw, reverse=True) and cw == sorted(cw)


def test_kn3_doc_scores_backoff_replays_stored_table(spark):
    """The consumer's per-doc NLL equals a python replay over the
    exported ARPA table: seen trigrams cost stored nlp3, pruned ones
    cost -ln(bow2/1e6) + nlp2 off the stored integers."""
    import math

    from hops_spark.ops.lm import (kn3_arpa, kn3_doc_scores,
                                   trigram_count_table)

    docs = _docs(spark, [(1, "a b c a b c x y z"), (2, "a b c q")])
    c3 = trigram_count_table(docs)
    arpa = {(r["ord"], r["w1"], r["w2"], r["w3"]): r
            for r in kn3_arpa(c3, prune3=2).collect()}

    def cost(w1, w2, w3):
        t = arpa.get((3, w1, w2, w3))
        if t is not None:
            return t["nlp_micro"]
        bo = arpa[(2, w1, w2, "")]["bow_micro"]
        bo_c = int(round(-math.log(max(bo, 1) / 1e6) * 1e6))
        return bo_c + arpa[(2, w2, w3, "")]["nlp_micro"]

    truth = {}
    for did, text in [(1, "a b c a b c x y z"), (2, "a b c q")]:
        w = text.split()
        tris = [(w[i], w[i + 1], w[i + 2]) for i in range(len(w) - 2)]
        nll = sum(cost(*t) for t in tris)
        nb = sum(1 for t in tris if (3, *t) not in arpa)
        truth[did] = (len(tris), nb, nll)
    got = {r["doc_id"]: (r["n_trigrams"], r["n_backoff"], r["nll3_micro"])
           for r in kn3_doc_scores(docs, prune3=2).collect()}
    assert got == truth
    # the pruned path fired at least once (abc appears 2x -> kept;
    # every other trigram is a singleton -> backoff)
    assert any(nb > 0 for _, nb, _ in truth.values())


def test_kn3_heldout_all_backoff_branches(spark):
    """Held-out scoring fires every branch: seen trigram, pruned->bow2
    backoff, unseen-bigram double backoff, and the <unk> OOV floor —
    each replayed from the stored table in python."""
    import math

    from hops_spark.ops.lm import (kn3_arpa, kn3_heldout_scores,
                                   trigram_count_table)

    train = _docs(spark, [(0, "a b c a b c"), (2, "a b c d e f")])
    #               trigrams: abc x2 (kept), bca, cab (pruned),
    #               bcd, cde, def (singletons, pruned)
    test = _docs(spark, [
        (1, "a b c"),       # seen trigram (kept)
        (3, "a b d"),       # pruned/unseen trigram, (b,d) unseen pair:
                            # double backoff, d in vocab
        (5, "a b zz")])     # zz out of vocabulary -> <unk> floor
    got = {r["doc_id"]: r for r in
           kn3_heldout_scores(train, test, prune3=2).collect()}
    arpa = {(r["ord"], r["w1"], r["w2"], r["w3"]): r
            for r in kn3_arpa(
                trigram_count_table(train), prune3=2).collect()}
    t2 = sum(1 for k, r in arpa.items()
             if k[0] == 2 and r["nlp_micro"] is not None)

    def bo(key):
        r = arpa.get(key)
        b = r["bow_micro"] if r is not None else 1_000_000
        return int(round(-math.log(max(b, 1) / 1e6) * 1e6))

    # doc 1: stored nlp3 of (a,b,c); no backoff, no oov
    assert (got[1]["n_backoff"], got[1]["n_oov"]) == (0, 0)
    assert got[1]["nll3_micro"] == arpa[(3, "a", "b", "c")]["nlp_micro"]
    # doc 3: bow2(a,b) + bow1(b) + nlp1(d) — double backoff, in-vocab
    assert (got[3]["n_backoff"], got[3]["n_oov"]) == (1, 0)
    exp3 = (bo((2, "a", "b", "")) + bo((1, "b", "", ""))
            + arpa[(1, "d", "", "")]["nlp_micro"])
    assert abs(got[3]["nll3_micro"] - exp3) <= 2
    # doc 5: same chain but <unk> floor for zz
    assert (got[5]["n_backoff"], got[5]["n_oov"]) == (1, 1)
    exp5 = (bo((2, "a", "b", "")) + bo((1, "b", "", ""))
            + int(round(math.log(t2 + 1) * 1e6)))
    assert abs(got[5]["nll3_micro"] - exp5) <= 2


def test_anneal_step_sample_nested_and_consistent(spark, tmp_path):
    """Curriculum execution properties: (1) per-source kept counts are
    monotone across steps in the direction of the weight change (the
    shared md5 draw makes kept sets NESTED); (2) step 0 reproduces
    mixture_schedule_sample's kept counts exactly (same rates, same
    draw)."""
    from hops_spark.queries.textops import (anneal_step_sample,
                                            mixture_schedule_sample)

    rows = []
    for i in range(40):
        src = f"s{i % 2}"
        text = ("common words here again and again"
                if i % 2 else "rare mix of highly varied tokens")
        rows.append((i, src, "en", text + f" tail{i}"))
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = anneal_step_sample(spark, str(tmp_path)).collect()
    by = {}
    for r in got:
        by.setdefault(r["source"], {})[r["step"]] = r
    for src, steps in by.items():
        ks = [steps[s]["n_kept"] for s in sorted(steps)]
        assert ks == sorted(ks) or ks == sorted(ks, reverse=True), (src, ks)
        rates = [steps[s]["rate_ppm"] for s in sorted(steps)]
        assert max(rates) <= 1_000_000
    step0 = {(r["source"]): (r["n_kept"], r["kept_tokens"])
             for r in got if r["step"] == 0}
    base = {r["source"]: (r["n_kept"], r["kept_tokens"])
            for r in mixture_schedule_sample(spark, str(tmp_path)).collect()}
    assert step0 == base

"""Round-10 operator tests: retrieve-then-rerank cascade, probe
calibration bins, DoReMi-shaped mixture reweighting."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_maxsim_rerank_scores_shortlist_only(spark):
    """The reranker's output is a subset of the BM25 shortlist, carries
    the recall-stage rank, and its MaxSim scores equal a direct MaxSim
    run restricted to the same candidates (the cascade changes COST,
    not the scoring model)."""
    from hops_spark.ops.retrieval import bm25_topk, maxsim_rerank, maxsim_topk

    docs = spark.createDataFrame(
        [(1, "spark merge vector fast"),
         (2, "sparky merged vectors"),
         (3, "banana apple cherry"),
         (4, "spark spark spark merge"),
         (5, "unrelated words entirely"),
         (6, "vector merge spark")],
        "doc_id long, text string")
    q = ["spark", "merge", "vector"]
    shortlist = {r["doc_id"] for r in bm25_topk(docs, q, 3).collect()}
    got = maxsim_rerank(docs, q, shortlist_k=3, k=3).collect()
    assert {r["doc_id"] for r in got} <= shortlist
    # lex_rank is the 1-based BM25 rank within the shortlist
    assert {r["lex_rank"] for r in got} <= {1, 2, 3}
    direct = {r["doc_id"]: r["maxsim"]
              for r in maxsim_topk(
                  docs.filter(F.col("doc_id").isin(list(shortlist))),
                  q, 3).collect()}
    for r in got:
        assert abs(r["maxsim"] - direct[r["doc_id"]]) < 1e-9
    # a doc outside the shortlist never surfaces, even with a perfect
    # reranker score (doc 5 can't; doc 3 scores low anyway)
    assert all(r["doc_id"] in shortlist for r in got)


def test_maxsim_rerank_ordered_by_reranker(spark):
    """Final order is the reranker's, not the recall stage's: a doc
    BM25 ranks below another can come out on top after MaxSim."""
    from hops_spark.ops.retrieval import maxsim_rerank

    docs = spark.createDataFrame(
        [(1, "spark spark spark spark spark"),   # high BM25 on one term
         (2, "spark merge vector"),              # covers all three terms
         (3, "other text here")],
        "doc_id long, text string")
    got = maxsim_rerank(docs, ["spark", "merge", "vector"],
                        shortlist_k=3, k=2).collect()
    assert got[0]["doc_id"] == 2          # all-terms doc wins the rerank
    assert got[0]["maxsim"] >= got[1]["maxsim"]


def test_two_tier_interval_join_equals_single_tier(spark):
    """The two-tier split returns the SAME pair set as the single-width
    form (and the naive quadratic join) on a mixed short/long workload
    with boundary-hugging spans, including intervals exactly at the
    long threshold."""
    from hops_spark.ops.join import (interval_overlap_join,
                                     interval_overlap_join_two_tier)

    w, lf = 10, 4            # long threshold = span >= 40
    left = spark.createDataFrame(
        [(1, 0, 35),         # span 35 < 40: short
         (2, 5, 45),         # span 40: exactly at threshold -> long
         (3, 100, 600),      # long
         (4, 52, 53),        # short
         (5, 700, 701)],     # short, overlaps only the long #6
        "click_id long, l_start long, l_end long")
    right = spark.createDataFrame(
        [(10, 30, 44),       # short; overlaps 1, 2
         (11, 0, 999),       # very long; overlaps everything
         (12, 550, 610),     # long (span 60); overlaps 3
         (13, 46, 51),       # short; overlaps nothing but 11
         (14, 41, 80)],      # long threshold 39 < 40 -> short; overlaps 2, 4
        "error_id long, r_start long, r_end long")
    naive = sorted(
        (lr[0], rr[0])
        for lr in left.collect() for rr in right.collect()
        if lr[1] <= rr[2] and rr[1] <= lr[2])
    one = sorted((r["click_id"], r["error_id"]) for r in
                 interval_overlap_join(left, right, w).collect())
    two = sorted((r["click_id"], r["error_id"]) for r in
                 interval_overlap_join_two_tier(
                     left, right, w, long_factor=lf).collect())
    assert one == naive
    assert two == naive
    assert len(two) == len(set(two))      # exactly once across tiers


def test_two_tier_interval_join_bounds_replication(spark):
    """Planted long-interval skew: N long spans of 200·W each would
    replicate ~201 copies at the fine width; the two-tier route caps
    each at span/(long_factor·W)+1. The audit counter proves the cap
    arithmetically and the result still matches the naive join."""
    from hops_spark.ops.join import (interval_overlap_join_two_tier,
                                     interval_replication)

    w, lf, n_long = 10, 32, 50
    span = 200 * w
    left = spark.range(n_long).select(
        F.col("id").alias("click_id"),
        (F.col("id") * 7).alias("l_start"),
        (F.col("id") * 7 + span).alias("l_end"))
    right = spark.range(200).select(
        F.col("id").alias("error_id"),
        (F.col("id") * 13).alias("r_start"),
        (F.col("id") * 13 + 5).alias("r_end"))
    fine = interval_replication(left, w, "l_start", "l_end")
    coarse = interval_replication(left, w * lf, "l_start", "l_end")
    assert fine >= n_long * (span // w)          # ~201 copies each
    assert coarse <= n_long * (span // (w * lf) + 2)   # lf-fold cut
    got = sorted((r["click_id"], r["error_id"]) for r in
                 interval_overlap_join_two_tier(
                     left, right, w, long_factor=lf).collect())
    naive = sorted(
        (lr["click_id"], rr["error_id"])
        for lr in left.collect() for rr in right.collect()
        if lr["l_start"] <= rr["r_end"] and rr["r_start"] <= lr["l_end"])
    assert got == naive and len(got) == len(set(got))


def test_probe_calibration_bins_partition_and_bound(spark, tmp_path):
    """Bins tile [0, 1e6] (n sums to the doc count), per-bin empirical
    rate is n_pos/n in micro-units, and gap = |conf - emp| exactly."""
    from hops_spark.queries.textops import probe_calibration

    rows = [(i, f"src{i % 2}", " ".join(
        ["alpha beta", "gamma delta epsilon"][i % 2] for _ in range(3)))
        for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
         .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = probe_calibration(spark, str(tmp_path)).collect()
    assert sum(r["n"] for r in out) == 40
    for r in out:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["conf_micro"] <= 1_000_000
        assert r["emp_micro"] == r["n_pos"] * 1_000_000 // r["n"]
        assert r["gap_micro"] == abs(r["conf_micro"] - r["emp_micro"])


def test_classifier_prf_perfect_and_mixed(spark, tmp_path):
    """On a perfectly separable corpus every class scores 1e6 across
    the board; with a planted mislabel the returned counts satisfy the
    P/R/F1 integer identities exactly."""
    from hops_spark.queries.textops import classifier_prf

    rows = ([(i, "src0", "aa", "xx xx xx") for i in range(3)]
            + [(10 + i, "src0", "bb", "yy yy yy") for i in range(3)])
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["class"]: r for r in classifier_prf(spark, str(tmp_path)).collect()}
    for c in ("aa", "bb"):
        r = out[c]
        assert (r["precision_ppm"], r["recall_ppm"], r["f1_ppm"]) \
            == (1_000_000, 1_000_000, 1_000_000)

    rows.append((20, "src0", "aa", "yy yy yy"))   # mislabeled
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["class"]: r for r in classifier_prf(spark, str(tmp_path)).collect()}
    for r in out.values():
        assert r["tp"] <= min(r["n_pred"], r["n_actual"])
        p = 0 if r["n_pred"] == 0 else r["tp"] * 1_000_000 // r["n_pred"]
        q = 0 if r["n_actual"] == 0 else r["tp"] * 1_000_000 // r["n_actual"]
        f = 0 if p + q == 0 else (2 * p * q) // (p + q)
        assert (r["precision_ppm"], r["recall_ppm"], r["f1_ppm"]) == (p, q, f)
    assert sum(r["n_actual"] for r in out.values()) == 7


def test_negative_sampling_weights(spark, tmp_path):
    """w34 = floor(sqrt(n*sqrt(n))) = floor(n^0.75) on exact powers;
    ppm shares follow from the integer weights."""
    from hops_spark.queries.retrieval import negative_sampling_table

    text_a = " ".join(["aaa"] * 16)
    spark.createDataFrame(
        [(1, text_a), (2, "bbb")], "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["word"]: r for r in
           negative_sampling_table(spark, str(tmp_path)).collect()}
    assert out["aaa"]["w34"] == 8          # 16^0.75
    assert out["bbb"]["w34"] == 1
    assert out["aaa"]["p_ppm"] == 8 * 1_000_000 // 9
    assert out["bbb"]["p_ppm"] == 1_000_000 // 9


def test_bfs_distances_path_and_multisource(spark):
    """Hop distances on a crafted graph: a path certifies propagation
    depth (nodes past `iters` hops are ABSENT, the frontier contract),
    a multi-source seed set takes the min, and symmetrization makes
    direction irrelevant."""
    from hops_spark.ops.graph import bfs_distances

    # path 0-1-2-3-4-5 plus an isolated edge 10-11
    edges = spark.createDataFrame(
        [(0, 1), (2, 1), (2, 3), (3, 4), (4, 5), (10, 11)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"]
           for r in bfs_distances(edges, seeds, iters=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}      # 4, 5, 10, 11 unreached
    # multi-source: seeding both ends halves the distances
    seeds2 = spark.createDataFrame([(0,), (5,)], "node long")
    got2 = {r["node"]: r["dist"]
            for r in bfs_distances(edges, seeds2, iters=3).collect()}
    assert got2 == {0: 0, 1: 1, 2: 2, 3: 2, 4: 1, 5: 0}


def test_event_path_mining_hand_computed(spark, tmp_path):
    """Exact 3-gram path counts on a crafted log: per-user order is
    (ts, event_id), short users contribute nothing, counts and share
    ppm are exact."""
    import datetime as dt

    from hops_spark.queries.events import event_path_mining

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: view > click > purchase > view  -> grams v>c>p, c>p>v
    for i, et in enumerate(["view", "click", "purchase", "view"]):
        rows.append((10 + i, t0 + dt.timedelta(minutes=i), 1, et, 0.0, ""))
    # user 2: view > click > purchase        -> gram v>c>p
    for i, et in enumerate(["view", "click", "purchase"]):
        rows.append((20 + i, t0 + dt.timedelta(minutes=i), 2, et, 0.0, ""))
    # user 3: too short for a 3-gram
    rows.append((30, t0, 3, "error", 0.0, ""))
    # user 4: same-ts tie broken by event_id (41 before 42)
    rows.append((41, t0, 4, "click", 0.0, ""))
    rows.append((42, t0, 4, "view", 0.0, ""))
    rows.append((43, t0 + dt.timedelta(minutes=1), 4, "purchase", 0.0, ""))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string") \
        .write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["path"]: (r["n"], r["share_ppm"]) for r in
           event_path_mining(spark, str(tmp_path)).collect()}
    # total grams: 2 (user1) + 1 (user2) + 1 (user4) = 4
    assert out["view>click>purchase"] == (2, 500_000)
    assert out["click>purchase>view"] == (1, 250_000)
    assert out["click>view>purchase"] == (1, 250_000)   # tie by event_id
    assert len(out) == 3


def test_lsh_recall_eval_counts_and_bounds(spark, tmp_path):
    """On a corpus with planted exact duplicates inside the sample,
    truth/pred counts line up, recall is exact ppm arithmetic, and
    pred ⊆ truth (precision-1-by-construction) keeps recall <= 1e6."""
    from hops_spark.queries.dedup import DR_MOD, lsh_recall_eval

    # find doc ids that fall into the md5 % DR_MOD == 0 sample
    import hashlib

    def in_sample(i):
        return int(hashlib.md5(f"dr|{i}".encode()).hexdigest()[:7],
                   16) % DR_MOD == 0

    ids = [i for i in range(500) if in_sample(i)]
    a, b, c = ids[0], ids[1], ids[2]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(a, base), (b, base),                        # planted dup pair
            (c, "totally different words here entirely okay right"),
            (ids[3], "another unrelated document text body four")]
    # plus out-of-sample noise that must NOT affect the eval
    rows += [(i, base) for i in range(500, 520) if not in_sample(i)]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = lsh_recall_eval(spark, str(tmp_path)).collect()[0]
    assert out["n_docs"] == 4
    assert out["n_true"] == 1 and out["n_pred"] == 1
    assert out["recall_ppm"] == 1_000_000
    assert out["n_pred"] <= out["n_true"]          # pred ⊆ truth
    assert 0 <= out["cand_yield_ppm"] <= 1_000_000


def test_domain_mixture_doremi_properties(spark, tmp_path):
    """Weights sum to exactly 1e6; the clipped-excess update only ever
    moves weight TOWARD high-loss domains (a domain at/below the
    reference loss never gains share); equal-loss domains keep their
    token shares."""
    from hops_spark.queries.textops import domain_mixture_doremi

    # srcA: repetitive (low bigram NLL), srcB: diverse (high NLL)
    rows = ([(i, "srcA", "one two " * 20) for i in range(20)]
            + [(100 + i, "srcB",
                " ".join(f"w{i}x{j}" for j in range(40))) for i in range(20)])
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
         .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in
           domain_mixture_doremi(spark, str(tmp_path)).collect()}
    assert sum(r["weight_ppm"] for r in out.values()) == 1_000_000
    a, b = out["srcA"], out["srcB"]
    assert b["excess_micro"] > 0 and a["excess_micro"] == 0
    # the hard domain is upweighted from its share, the easy one down
    assert b["weight_ppm"] > b["w0_ppm"]
    assert a["weight_ppm"] < a["w0_ppm"]

    # identical-loss case: weights == token shares (up to Hamilton ±1)
    rows2 = ([(i, "s0", "p q r s t") for i in range(10)]
             + [(50 + i, "s1", "p q r s t") for i in range(30)])
    spark.createDataFrame(rows2, "doc_id long, source string, text string") \
         .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out2 = {r["source"]: r for r in
            domain_mixture_doremi(spark, str(tmp_path)).collect()}
    assert sum(r["weight_ppm"] for r in out2.values()) == 1_000_000
    for r in out2.values():
        assert abs(r["weight_ppm"] - r["w0_ppm"]) <= 1


def test_mixture_schedule_sample_executes_design(spark, tmp_path):
    """The most-upweighted domain keeps EVERYTHING (rate 1e6,
    downsample-only contract); others are gated below it; counts
    reconcile; the rate ordering follows weight/share."""
    from hops_spark.queries.textops import (domain_mixture_doremi,
                                            mixture_schedule_sample)

    rows = ([(i, "easy", "one two " * 20) for i in range(60)]
            + [(200 + i, "hard",
                " ".join(f"h{i}w{j}" for j in range(40)))
               for i in range(20)])
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
         .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    plan = {r["source"]: r for r in
            domain_mixture_doremi(spark, str(tmp_path)).collect()}
    out = {r["source"]: r for r in
           mixture_schedule_sample(spark, str(tmp_path)).collect()}
    # hard domain has the max weight/share ratio -> keeps all docs
    assert out["hard"]["rate_ppm"] == 1_000_000
    assert out["hard"]["n_kept"] == out["hard"]["n_docs"] == 20
    assert out["easy"]["rate_ppm"] < 1_000_000
    assert 0 <= out["easy"]["n_kept"] <= out["easy"]["n_docs"]
    # achieved shares sum to 1e6 up to integer-div slack per domain
    assert sum(r["achieved_ppm"] for r in out.values()) <= 1_000_000
    assert sum(r["achieved_ppm"] for r in out.values()) >= 1_000_000 - 2
    # targets surfaced verbatim from the design
    for s, r in out.items():
        assert r["target_ppm"] == plan[s]["weight_ppm"]

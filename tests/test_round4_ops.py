"""Unit tests for the round-4 operators: count-min sketch heavy hitters
(ops/sketch.py), TF-IDF cosine pairs (ops/retrieval.py), bigram-LM
scoring (ops/lm.py), split assignment and per-source token budgets
(ops/sampling.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from hops_spark.ops import lm as LM
from hops_spark.ops import retrieval as R
from hops_spark.ops import sketch as SK
from hops_spark.ops.sampling import source_token_budget, split_assign


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- count-min sketch ---------------------------------------------------

def test_cms_never_underestimates_and_small_grid(spark):
    docs = _docs(spark, [(i, "alpha beta gamma alpha " + f"w{i}")
                         for i in range(30)])
    out = SK.heavy_hitters(docs, k=5).collect()
    assert len(out) == 5
    for r in out:
        assert r["n_cms"] >= r["n_exact"]
        assert r["never_underestimates"]
    # the grid itself stays <= depth x width rows
    toks = docs.select(F.explode(F.split("text", " ")).alias("term"))
    assert SK.cms_cells(toks).count() <= SK.DEPTH * SK.WIDTH


def test_cms_exact_when_no_collisions(spark):
    # 3 distinct terms into 4x256 cells: collisions are possible but the
    # min-over-rows estimate equals the true count unless some term
    # collides with another in EVERY row — vanishingly unlikely with 3
    # terms, and deterministic (md5), so this is a stable assertion.
    docs = _docs(spark, [(0, "x x x y y z")])
    got = {r["term"]: (r["n_exact"], r["n_cms"])
           for r in SK.heavy_hitters(docs, k=3).collect()}
    assert got == {"x": (3, 3), "y": (2, 2), "z": (1, 1)}


def test_cms_grids_merge_exactly(spark):
    # cells(A) ⊕ cells(B) == cells(A ∪ B): the mergeable-summary
    # property that lets per-batch sketches replace corpus re-scans.
    a = _docs(spark, [(0, "m n o m")])
    b = _docs(spark, [(1, "m p q")])
    tok = lambda d: d.select(F.explode(F.split("text", " ")).alias("term"))
    merged = SK.merge_cells(SK.cms_cells(tok(a)), SK.cms_cells(tok(b)))
    whole = SK.cms_cells(tok(a.unionByName(b)))
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_cms_broadcasts_grid(spark):
    docs = _docs(spark, [(0, "a b c"), (1, "a b d")])
    plan = SK.heavy_hitters(docs, k=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastExchange" in plan


# --- TF-IDF cosine ------------------------------------------------------

def test_tfidf_identical_docs_cosine_one(spark):
    docs = _docs(spark, [(0, "red green blue"),
                         (1, "red green blue"),
                         (2, "cyan magenta yellow"),
                         (3, "cyan magenta yellow")])
    got = {(r["id_a"], r["id_b"]): r["cosine_ppm"]
           for r in R.tfidf_cosine_topk(docs, k=10).collect()}
    # identical docs -> cosine exactly 1e6; disjoint vocab -> no pair
    assert got[(0, 1)] == 1_000_000
    assert got[(2, 3)] == 1_000_000
    assert (0, 2) not in got and (1, 3) not in got


def test_tfidf_df_bounds_prune_terms(spark):
    # 'common' is in every doc (df=4 > max_df=3) and 'solo' is df=1
    # (< min_df): neither can create a pair.
    docs = _docs(spark, [(0, "common solo"), (1, "common"),
                         (2, "common"), (3, "common")])
    assert R.tfidf_cosine_topk(docs, k=10, min_df=2, max_df=3).count() == 0


# --- bigram LM ----------------------------------------------------------

def test_lm_predictable_doc_scores_lower(spark):
    # Corpus dominated by "p q" repetitions: a doc made of the dominant
    # bigram must score a lower avg NLL than a doc of one-off bigrams.
    rows = [(i, "p q " * 10) for i in range(5)]
    rows += [(100, "odd strange unusual words here")]
    got = {r["doc_id"]: r["avg_nll_micro"]
           for r in LM.doc_nll_scores(_docs(spark, rows)).collect()}
    assert got[0] < got[100]
    # hand-check one probability: the score of doc 100's first bigram
    cnt = {(r["w1"], r["w2"]): (r["n"], r["n_ctx"])
           for r in LM.bigram_count_table(_docs(spark, rows)).collect()}
    n, ctx = cnt[("odd", "strange")]
    v = len({w2 for (_, w2) in cnt})
    expect = round(-math.log((n + 1) / (ctx + v)) * LM.MICRO)
    per = {r["doc_id"]: r for r in
           LM.doc_nll_scores(_docs(spark, [(999, "odd strange")] + rows))
           .collect()}
    assert per[999]["nll_micro"] != 0
    assert per[999]["n_bigrams"] == 1


# --- BPE ----------------------------------------------------------------

def test_bpe_train_hand_computed_merges(spark):
    from hops_spark.ops import bpe
    # corpus: "low" x3, "lowest" x1 -> pair counts over chars weighted
    # by word freq: (l,o)=4, (o,w)=4, (w,e)=1, (e,s)=1, (s,t)=1.
    # merge 0: (l,o) wins on tie-break (count 4, 'l' < 'o').
    # merge 1: (lo,w)=4. merge 2: (low,e)... count 1, tie-break lex:
    # candidates (e,s)=1,(low,e)=1,(s,t)=1 -> (e,s) lex-first.
    docs = _docs(spark, [(0, "low low low lowest")])
    got = [(r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
           for r in bpe.bpe_train(spark, docs, k=3).collect()]
    assert got == [(0, "l", "o", 4), (1, "lo", "w", 4), (2, "e", "s", 1)]


def test_bpe_apply_replays_merges(spark):
    from hops_spark.ops import bpe
    docs = _docs(spark, [(0, "low lowest")])
    out = bpe.bpe_apply(docs, [("l", "o"), ("lo", "w")]).collect()[0]
    assert out["bpe_tokens"] == ["low", "low e s t"]


def test_bpe_single_char_words_no_merges(spark):
    from hops_spark.ops import bpe
    docs = _docs(spark, [(0, "a b a b c")])
    assert bpe.bpe_train(spark, docs, k=4).count() == 0


def _bpe_reference_recount(vocab: list[tuple[int, str]], k: int):
    """Naive sequential BPE (full recount per merge) — the semantics the
    delta-maintained trainer must reproduce exactly."""
    from collections import Counter

    from hops_spark.ops.bpe import _apply_merge, _word_pair_occurrences
    words = [list(w) for w in vocab]
    merges = []
    for rank in range(k):
        counts = Counter()
        for n, sym in words:
            for p in _word_pair_occurrences(sym):
                counts[p] += n
        if not counts:
            break
        (w1, w2), c = min(counts.items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, w1, w2, c))
        words = [[n, _apply_merge(sym, w1, w2)] for n, sym in words]
    return merges


def test_bpe_delta_trainer_matches_sequential_recount(spark):
    """The incremental pair-count maintenance must be bit-identical to
    recount-per-merge, including the adjacent-overlap leftover case
    ('a a a a' merging (a,a) leaves one (a,a) pair behind) and ties."""
    import hashlib

    from hops_spark.ops import bpe
    text = " ".join(
        "".join("abcd"[int(ch, 16) % 4] for ch in
                hashlib.md5(f"w{i}".encode()).hexdigest()[:6])
        for i in range(80)) + " aaaa aaaa bbbb"
    docs = _docs(spark, [(0, text)])
    vocab = [(r["n"], r["sym"])
             for r in bpe.vocab_symbols(docs).select("n", "sym").collect()]
    expect = _bpe_reference_recount(vocab, 40)
    got = [(r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
           for r in bpe.bpe_train(spark, docs, k=40).collect()]
    assert got == expect
    assert len(got) > 10


def test_bpe_vocab_scale_job_count(spark):
    """A k=256 training run must cost ≤ k/8 Spark jobs — the merge loop
    is driver-side over the bounded vocab table, not one job per merge."""
    import hashlib

    from hops_spark.ops import bpe
    k = 256
    text = " ".join(hashlib.md5(f"word{i}".encode()).hexdigest()
                    for i in range(400))
    docs = _docs(spark, [(0, text)])
    sc = spark.sparkContext
    sc.setJobGroup("bpe-scale", "bpe job-count test")
    try:
        merges = bpe.bpe_train(spark, docs, k=k).collect()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("bpe-scale")
    assert len(merges) == k
    assert len(jobs) <= k // 8, f"{len(jobs)} jobs for {k} merges"


def test_bpe_max_vocab_rows_caps_driver_side(spark):
    from hops_spark.ops import bpe
    docs = _docs(spark, [(0, "aa aa aa bb bb cc")])
    # cap to 2 vocab rows -> only 'aa' (n=3) and 'bb' (n=2) survive
    got = bpe.bpe_train(spark, docs, k=2, max_vocab_rows=2).collect()
    assert [(r["left_sym"], r["right_sym"], r["pair_count"]) for r in got] \
        == [("a", "a", 3), ("b", "b", 2)]


# --- split assignment ---------------------------------------------------

def test_split_assign_partitions_and_is_deterministic(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = split_assign(df, "doc_id")
    counts = {r["split"]: r["n"] for r in
              a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000          # exhaustive + disjoint
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # deterministic: a second evaluation assigns identically
    b = split_assign(df, "doc_id")
    assert a.exceptAll(b).count() == 0


# --- per-source token budget --------------------------------------------

def test_source_token_budget_respects_budget_and_keeps_whole_docs(spark):
    rows = [(i, "s1", 40) for i in range(20)] + [(100, "s2", 10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    kept = source_token_budget(df, "source", "n_tok", budget=100,
                               id_col="doc_id").collect()
    by_src: dict[str, list] = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    # every kept doc STARTS under budget (kept whole, may overshoot once)
    for r in kept:
        assert r["cum_weight"] - r["n_tok"] < 100
    # s1: docs of 40 tokens -> exactly 3 kept (starts at 0, 40, 80)
    assert len(by_src["s1"]) == 3
    # a source under budget keeps everything
    assert len(by_src["s2"]) == 1
    # deterministic re-run
    again = source_token_budget(df, "source", "n_tok", budget=100,
                                id_col="doc_id").collect()
    assert sorted(r["doc_id"] for r in again) == \
        sorted(r["doc_id"] for r in kept)


# --- content-defined chunking -------------------------------------------

def test_cdc_boundaries_shift_invariant_under_prefix_edit(spark):
    """The property fixed-size chunking lacks: after an edit, boundaries
    realign within ~window chars — the shared suffix produces identical
    relative boundary positions in both versions."""
    import hashlib

    from hops_spark.ops.text import cdc_chunk_lengths
    body = " ".join(hashlib.md5(f"s{i}".encode()).hexdigest()
                    for i in range(40))          # ~1300 chars shared
    a = "short head. " + body
    b = "a completely different and longer head section!! " + body
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = {r["doc_id"]: list(r["boundaries"])
            for r in cdc_chunk_lengths(df).collect()}
    rel = {did: {p - (len(t) - len(body))
                 for p, t in ((p, {1: a, 2: b}[did]) for p in bs)
                 if p - (len(t) - len(body)) > 8}
           for did, bs in rows.items()}
    shared = rel[1] & rel[2]
    # all tail boundaries coincide (doc-end sentinel equals len(body) in
    # relative terms for both docs)
    assert len(body) in shared
    assert len(shared) >= max(len(rel[1]), len(rel[2])) - 2
    # and chunk lengths sum to n for every doc
    for r in cdc_chunk_lengths(df).collect():
        assert sum(r["chunk_lengths"]) == r["n"]


def test_cdc_short_doc_single_chunk(spark):
    from hops_spark.ops.text import cdc_chunk_lengths
    df = spark.createDataFrame([(1, "tiny")], "doc_id long, text string")
    r = cdc_chunk_lengths(df).collect()[0]
    assert list(r["boundaries"]) == [4] and list(r["chunk_lengths"]) == [4]


# --- sentence-level corpus dedup ----------------------------------------

def test_sentence_dedup_first_occurrence_and_reassembly(spark):
    from hops_spark.ops.dedup import sentence_dedup
    docs = _docs(spark, [
        (1, "alpha beta. shared line. gamma"),
        (2, "shared line. delta epsilon"),   # loses its copy of 'shared line'
        (3, "alpha beta"),                   # dup of doc 1's first sentence
    ])
    got = {r["doc_id"]: (r["n_sents"], r["n_kept"], r["clean_text"])
           for r in sentence_dedup(docs).collect()}
    assert got[1] == (3, 3, "alpha beta . shared line . gamma")
    assert got[2] == (2, 1, "delta epsilon")
    assert got[3] == (1, 0, "")


def test_nb_hash_features_bounds_model_and_stays_accurate(spark, sf_dir):
    """fastText hashing trick: with hash_features=N the model is <= N*C
    rows by construction; predictions remain deterministic and the
    classifier still beats the majority-class baseline on the fixture."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.classify import nb_predict

    d = load_table(spark, sf_dir, "documents")
    pred = nb_predict(d, hash_features=256)
    rows = pred.collect()
    acc = sum(r["actual"] == r["predicted"] for r in rows) / len(rows)
    major = (d.groupBy("lang").count().orderBy(F.desc("count"))
              .first()["count"]) / d.count()
    assert acc >= major, (acc, major)
    # determinism: same inputs -> same predictions
    again = {r["doc_id"]: r["predicted"] for r in
             nb_predict(d, hash_features=256).collect()}
    assert again == {r["doc_id"]: r["predicted"] for r in rows}


def test_two_level_assignment_reduces_to_flat_at_full_probes(spark, sf_dir):
    """Reduction proof: with coarse_probes = n_coarse every coarse
    group is probed, so the candidate set is the WHOLE codebook and
    two-level assignment must equal flat argmax EXACTLY (same rounded
    sims, same larger-cell tie-break). Also: the default auto-switch
    in build_cell_index keeps flat below 1024 cells."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, 24)
    flat = (F.array_max(SIM._cell_sims(F.col("embedding"), cents))
             .getField("cell"))
    two_full = SIM.two_level_cell(F.col("embedding"), cents,
                                  n_coarse=5, coarse_probes=5)
    mism = (e.select(flat.alias("f"), two_full.alias("t"))
             .filter(F.col("f") != F.col("t")).count())
    assert mism == 0
    # partition-of-codebook sanity: the coarse groups tile the fine cells
    _, gcells, gvecs = SIM.coarse_codebook(cents, 5)
    all_cells = sorted(c for g in gcells for c in g)
    assert all_cells == sorted(c for c, _ in cents)
    assert [len(g) for g in gcells] == [len(g) for g in gvecs]


def test_assign_cells_gemm_matches_column_path(spark, sf_dir):
    """The huge-codebook assigner (codebook as DATA in an Arrow batch,
    not an expression literal): flat GEMM assignment equals the Column
    argmax on the fixture, and the two-level GEMM with full probes
    equals flat GEMM (the same reduction law the literal path obeys)."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, 24)
    flat_col = {r["vec_id"]: r["c"] for r in e.select(
        "vec_id",
        F.array_max(SIM._cell_sims(F.col("embedding"), cents))
         .getField("cell").alias("c")).collect()}
    flat_gemm = {r["vec_id"]: r["cell"] for r in
                 SIM.assign_cells_gemm(e, cents).collect()}
    assert flat_gemm == flat_col
    two_full = {r["vec_id"]: r["cell"] for r in
                SIM.assign_cells_gemm(e, cents, n_coarse=5,
                                      coarse_probes=5).collect()}
    assert two_full == flat_gemm
    # partial probes: an approximation, but the assigned cell's cosine
    # can never exceed the flat winner's (flat is the true argmax)
    part = {r["vec_id"]: r["cell"] for r in
            SIM.assign_cells_gemm(e, cents, n_coarse=5,
                                  coarse_probes=2).collect()}
    assert set(part) == set(flat_gemm)


def test_assign_cells_gemm_partial_probe_matches_column_two_level(
        spark, sf_dir):
    """Round-7 ADVICE regression: the GEMM and Column two-level paths
    must share ONE coarse codebook (the first n_coarse centroids in
    original md5-list order — cell ids are vec_ids, so id-sorted order
    differs). With PARTIAL probes a divergent coarse grouping probes
    different groups and assigns different cells; after the fix the two
    paths agree wherever no 1e-6 rounding tie is involved (none on this
    fixture)."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, 24)
    # the bug's precondition: md5 list order != id-sorted order
    assert [c for c, _ in cents] != sorted(c for c, _ in cents)
    col_part = {r["vec_id"]: r["c"] for r in e.select(
        "vec_id",
        SIM.two_level_cell(F.col("embedding"), cents, n_coarse=5,
                           coarse_probes=2).alias("c")).collect()}
    gemm_part = {r["vec_id"]: r["cell"] for r in
                 SIM.assign_cells_gemm(e, cents, n_coarse=5,
                                       coarse_probes=2).collect()}
    assert gemm_part == col_part


def test_build_cell_index_gemm_path_equals_literal_path(spark, sf_dir,
                                                        tmp_path,
                                                        monkeypatch):
    """Above GEMM_ASSIGN_CELLS the index build routes assignment
    through assign_cells_gemm (codebook as data); the resulting
    partitioned index must equal the literal-path build cell-for-cell
    and row-for-row (threshold forced down so the fixture exercises
    the routing)."""
    from hops_spark.io.readers import load_table
    from hops_spark.ops import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, 24)
    lit_dir, gemm_dir = str(tmp_path / "lit"), str(tmp_path / "gemm")
    SIM.build_cell_index(e, cents, lit_dir, two_level=False)
    monkeypatch.setattr(SIM, "GEMM_ASSIGN_CELLS", 8)
    SIM.build_cell_index(e, cents, gemm_dir, two_level=False)
    lit = {(r["vec_id"], r["cell"]) for r in
           spark.read.parquet(lit_dir).select("vec_id", "cell").collect()}
    gemm = {(r["vec_id"], r["cell"]) for r in
            spark.read.parquet(gemm_dir).select("vec_id", "cell").collect()}
    assert gemm == lit


def test_boilerplate_strip_drops_every_occurrence_per_source(spark):
    """CCNet contract: a sentence over the per-source df threshold is
    removed EVERYWHERE (unlike sentence_dedup's keep-first); the same
    sentence in a different source with low df survives; low-df
    sentences survive in place."""
    from hops_spark.ops.dedup import boilerplate_strip
    rows = [(i, "srcA", "cookie notice. unique %d" % i) for i in range(4)]
    rows += [(10, "srcA", "rare line. tail"),
             (20, "srcB", "cookie notice. other text"),
             (21, "srcB", "solo line")]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: (r["n_sents"], r["n_kept"], r["clean_text"])
           for r in boilerplate_strip(docs, min_docs=3,
                                      max_df_ppm=100_000).collect()}
    # srcA has 5 docs; 'cookie notice' df=4 -> 800000 ppm > 100000, boiler
    for i in range(4):
        assert out[i] == (2, 1, "unique %d" % i)
    assert out[10] == (2, 2, "rare line . tail")
    # srcB: df=1 of 2 docs -> below min_docs, survives
    assert out[20] == (2, 2, "cookie notice . other text")
    assert out[21] == (1, 1, "solo line")


def test_boilerplate_strip_deterministic(spark):
    from hops_spark.ops.dedup import boilerplate_strip
    rows = [(i, "s%d" % (i % 3), "shared seg. doc %d tail" % (i % 5))
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = sorted(tuple(r) for r in boilerplate_strip(docs).collect())
    b = sorted(tuple(r) for r in boilerplate_strip(docs).collect())
    assert a == b and a


def test_quality_budget_head_boundary_and_order(spark):
    """Selection is the quality-desc prefix; the doc straddling the
    budget is dropped; cum_tokens is the inclusive running total in
    (quality desc, id) order."""
    from pyspark.sql import functions as F

    from hops_spark.ops.sampling import quality_budget_head

    # quality_score is dominated by n_words*20000 (capped at 50 words)
    # on these stopword-free texts: longer docs -> higher score.
    rows = [(1, "w " * 40), (2, "w " * 30), (3, "w " * 20), (4, "w " * 10)]
    docs = spark.createDataFrame([(i, t.strip()) for i, t in rows],
                                 "doc_id long, text string")
    # total = 100 tokens; budget 75% = 75 -> doc1(40)+doc2(30)=70 in,
    # doc3 would hit 90 > 75: dropped, and so is everything after.
    got = {r["doc_id"]: r["cum_tokens"]
           for r in quality_budget_head(docs, 750_000).collect()}
    assert got == {1: 40, 2: 70}
    # full budget admits everything
    assert quality_budget_head(docs, 1_000_000).count() == 4
    # deterministic under re-run (range-partition sampling must not leak)
    a = sorted(tuple(r) for r in quality_budget_head(docs, 750_000).collect())
    b = sorted(tuple(r) for r in quality_budget_head(docs, 750_000).collect())
    assert a == b


def test_unigram_viterbi_prefers_cheap_pieces_and_breaks_ties(spark):
    """DP picks multi-char pieces when their micro-nat cost beats the
    char sum, matches a hand-computed reference on every word, and the
    char fallback covers words longer than max_len."""
    import math

    from hops_spark.ops.unigram import (MICRO, piece_table,
                                        viterbi_segment, word_counts)

    docs = spark.createDataFrame(
        [(i, "abab cd cd cd xyxyxyxyxyxy") for i in range(4)],
        "doc_id long, text string")
    wc = word_counts(docs)
    pieces = piece_table(wc, top_k=8, min_count=2, max_piece=4)
    pm = {r["piece"]: r["cost_micro"] for r in pieces.collect()}
    # cost formula replication for one piece
    cnts = {r["piece"]: r["cnt"] for r in pieces.collect()}
    nn, v = sum(cnts.values()), len(cnts)
    assert pm["cd"] == round(-math.log((cnts["cd"] + 1) / (nn + v)) * MICRO)

    got = {r["w"]: (r["seg"], r["n_pieces"], r["cost_micro"])
           for r in viterbi_segment(wc, pieces, max_len=10).collect()}

    def ref(w):
        best = [(0, 0, "")] + [None] * len(w)
        for j in range(1, len(w) + 1):
            cand = []
            for n in range(1, min(4, j) + 1):
                p = w[j - n:j]
                if p in pm:
                    c0, n0, s0 = best[j - n]
                    cand.append((c0 + pm[p], n0 + 1,
                                 s0 + ("+" if s0 else "") + p))
            best[j] = min(cand)
        return best[len(w)]

    for w in ("abab", "cd"):
        c, n, s = ref(w)
        assert got[w] == (s, n, c), w
    # len 12 > max_len 10 -> char fallback
    seg, n, c = got["xyxyxyxyxyxy"]
    assert seg == "+".join("xyxyxyxyxyxy") and n == 12
    assert c == sum(pm[ch] for ch in "xyxyxyxyxyxy")


def test_unigram_hard_em_counts_conserve_mass(spark):
    """M-step invariants: sum over pieces of cnt_em equals the total
    piece slots used by the segmentations (sum n_occ * n_pieces);
    pieces never used drop to 0; every used piece is in the fixed
    inventory."""
    from pyspark.sql import functions as F

    from hops_spark.ops.unigram import (hard_em_recount, piece_table,
                                        viterbi_segment, word_counts)

    docs = spark.createDataFrame(
        [(i, "abab cd cd ef abcd abcd") for i in range(3)],
        "doc_id long, text string")
    wc = word_counts(docs)
    pieces = piece_table(wc, top_k=8, min_count=2)
    segs = viterbi_segment(wc, pieces)
    em = hard_em_recount(segs, pieces)
    total_em = em.agg(F.sum("cnt_em")).collect()[0][0]
    slots = segs.select((F.col("n_occ") * F.col("n_pieces")).alias("s")) \
                .agg(F.sum("s")).collect()[0][0]
    assert total_em == slots
    rows = em.collect()
    assert {r["piece"] for r in rows} == \
        {r["piece"] for r in pieces.collect()}
    assert any(r["cnt_em"] == 0 for r in rows)  # some gram goes unused
    # cnt_em = 0 gives the add-one floor: the maximum possible cost
    used_costs = [r["cost_em_micro"] for r in rows if r["cnt_em"] > 0]
    unused_costs = [r["cost_em_micro"] for r in rows if r["cnt_em"] == 0]
    assert min(unused_costs) >= max(used_costs)


def test_pi_bbp_known_hex_digits(spark):
    """BBP digit slices must reproduce pi's known hex expansion
    (3.243F6A8885A308D3...): position 0 -> 243F6A, 10 -> A308D3.
    The Q48 fixed-point bound guarantees the top 6 digits exactly."""
    from hops_spark.registry import load_all

    rows = {r["d"]: r["hex6"]
            for r in load_all()["pi_bbp"].fn(spark, "unused").collect()}
    assert rows[0] == "243F6A"
    assert rows[10] == "A308D3"
    assert len(rows) == 5 and all(len(v) == 6 for v in rows.values())

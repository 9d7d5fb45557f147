"""Unit tests: BM25 ranking (ops/retrieval.py) and SemDeDup-shaped
embedding dedup (ops/similarity.semantic_dedup)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from hops_spark.ops import retrieval as R
from hops_spark.ops import similarity as SIM


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_term_frequency_and_idf_ordering(spark):
    docs = _docs(spark, [
        (0, "spark spark spark filler filler"),
        (1, "spark filler filler filler filler"),
        (2, "filler filler filler filler filler"),
        (3, "rare filler filler filler filler"),
    ])
    got = {r["doc_id"]: (r["n_terms_matched"], r["bm25"])
           for r in R.bm25_scores(docs, ["spark", "rare"]).collect()}
    assert set(got) == {0, 1, 3}            # doc 2 matches nothing
    assert got[0][1] > got[1][1]            # higher tf, same dl -> higher
    assert got[3][1] > got[1][1]            # rarer term -> higher idf
    assert got[3][0] == 1 and got[0][0] == 1


def test_bm25_manual_value(spark):
    # One doc, one term, hand-computed BM25.
    docs = _docs(spark, [(0, "a b c d"), (1, "x y z w")])
    [row] = R.bm25_scores(docs, ["a"]).collect()
    n, df, tf, dl, avgdl = 2.0, 1.0, 1.0, 4, 4.0
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    expect = idf * tf * (R.K1 + 1) / (tf + R.K1 * (1 - R.B + R.B * dl / avgdl))
    assert abs(row["bm25"] - round(expect, 6)) < 1e-9


def test_bm25_topk_limit_and_tiebreak(spark):
    docs = _docs(spark, [(i, "spark common") for i in range(6)])
    got = [r["doc_id"] for r in R.bm25_topk(docs, ["spark"], k=4).collect()]
    assert got == [0, 1, 2, 3]              # equal scores -> id order


def test_maxsim_empty_query_runs_no_job(spark):
    """An empty or all-zero-norm query list returns maxsim_topk's empty
    (doc_id, maxsim) frame without running any corpus job."""
    from itertools import product

    zero = next(t for t in map("".join, product("abcdefgh", repeat=4))
                if R._py_term_vector(t, R.MSIM_DIM) is None)
    docs = _docs(spark, [(1, "spark merge"), (2, f"{zero} vector")])
    sc = spark.sparkContext
    for query in ([], [zero]):
        sc.setJobGroup("maxsim-empty", "maxsim empty-query test")
        try:
            out = R.maxsim_topk(docs, query)
        finally:
            sc.setJobGroup("", "")
        assert list(sc.statusTracker().getJobIdsForGroup("maxsim-empty")) \
            == [], query
        assert out.columns == ["doc_id", "maxsim"]
        assert out.collect() == []


def _vec(*xs):
    return [float(x) for x in xs]


def test_semantic_dedup_drops_higher_id_twin(spark):
    # Two near-identical vectors (0, 1), one orthogonal (2).
    rows = [(0, _vec(1, 0, 0, 0)), (1, _vec(0.999, 0.01, 0, 0)),
            (2, _vec(0, 1, 0, 0))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: bool(r["is_kept"])
           for r in SIM.semantic_dedup(df, 4, n_clusters=2,
                                       threshold=0.95).collect()}
    assert got[0] is True
    assert got[1] is False
    assert got[2] is True
    # every corpus vector gets a row
    assert set(got) == {0, 1, 2}


def test_semantic_dedup_over_cap_cell_keeps_all(spark):
    rows = [(i, _vec(1, 0.001 * i, 0, 0)) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = SIM.semantic_dedup(df, 4, n_clusters=1, threshold=0.9, max_cell=3)
    assert all(bool(r["is_kept"]) for r in got.collect())


def test_weighted_sample_matches_python_reference(spark):
    import hashlib

    from hops_spark.ops.sampling import weighted_sample

    rows = [(i, (i * 37) % 500 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")

    def ppm(i):
        h = hashlib.md5(f"s|{i}".encode()).hexdigest()
        return int(h[:7], 16) % 1_000_000

    pri = sorted(((ppm(i) * 1_000_000) // w, i) for i, w in rows)
    expect = [(i, p) for p, i in pri[:25]]
    got = [(int(r["doc_id"]), int(r["priority"]))
           for r in weighted_sample(df, "n_chars", 25, "doc_id", salt="s")
           .orderBy("priority", "doc_id").collect()]
    assert got == expect


def test_cooccurrence_counts_window(spark):
    from hops_spark.ops.retrieval import cooccurrence_topk
    docs = spark.createDataFrame([(0, "a b c"), (1, "b a")],
                                 "doc_id long, text string")
    got = {(r["word_a"], r["word_b"]): (r["n_cooc"], r["affinity_ppm"])
           for r in cooccurrence_topk(docs, window=2, k=10).collect()}
    # window 2 over "a b c": (a,b), (a,c), (b,c); "b a": (a,b)
    assert got[("a", "b")][0] == 2
    assert got[("a", "c")][0] == 1
    assert got[("b", "c")][0] == 1
    # a appears 2x, b 2x, c 1x -> affinity(a,c) = 1e6/min(2,1)
    assert got[("a", "c")][1] == 1_000_000


def test_clean_corpus_job(spark, sf_dir, tmp_path):
    """End-to-end cleaning CLI: monotone stage counts, deterministic
    rerun, parquet output readable."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from clean_corpus import clean_corpus

    c1 = clean_corpus(spark, sf_dir, str(tmp_path / "a"))
    order = ["input", "after_quality", "after_lang", "after_exact_dedup",
             "after_near_dedup", "after_decontaminate", "after_perplexity"]
    vals = [c1[k] for k in order]
    assert vals == sorted(vals, reverse=True)       # each stage only drops
    assert c1["written"] == c1["after_perplexity"] > 0
    c2 = clean_corpus(spark, sf_dir, str(tmp_path / "b"))
    assert c1 == c2                                  # deterministic
    a = spark.read.parquet(str(tmp_path / "a" / "clean"))
    b = spark.read.parquet(str(tmp_path / "b" / "clean"))
    assert sorted(r["doc_id"] for r in a.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in b.select("doc_id").collect())
    # split partition column present, hash-stable across reruns
    assert set(r["split"] for r in a.select("split").distinct().collect()) \
        <= {"train", "val", "test"}
    sa = {(r["doc_id"], r["split"]) for r in a.select("doc_id", "split").collect()}
    sb = {(r["doc_id"], r["split"]) for r in b.select("doc_id", "split").collect()}
    assert sa == sb


def test_clean_corpus_cut_spans_mode(spark, sf_dir, tmp_path):
    """--cut-spans: the span-excision stage runs first, reports a
    positive tokens_cut on this fixture (planted near-dup passages),
    shrinks or preserves every doc's n_chars, and the job stays
    deterministic end to end."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from clean_corpus import clean_corpus

    c1 = clean_corpus(spark, sf_dir, str(tmp_path / "a"), cut_spans=True)
    assert c1["tokens_cut"] > 0
    assert c1["written"] == c1["after_perplexity"] > 0
    c2 = clean_corpus(spark, sf_dir, str(tmp_path / "b"), cut_spans=True)
    assert c1 == c2
    # excised text actually landed: no surviving doc still contains a
    # duplicated >= 8-token window (the spans were cut corpus-wide)
    from pyspark.sql import functions as F

    from hops_spark.ops.dedup import suffix_dup_spans
    out = spark.read.parquet(str(tmp_path / "a" / "clean"))
    kept = out.select("doc_id", "text")
    respans = suffix_dup_spans(kept, "doc_id", "text", 8, 12)
    # residual spans can only come from NEW adjacencies created by
    # cutting (rare but possible); the planted full-doc duplicates
    # must be gone, so residual coverage is far below the original
    orig = suffix_dup_spans(
        load_clean_base(spark, sf_dir), "doc_id", "text", 8, 12) \
        .agg(F.sum("span_tokens")).collect()[0][0]
    resid = respans.agg(F.coalesce(F.sum("span_tokens"), F.lit(0))) \
        .collect()[0][0]
    assert resid < orig / 2


def load_clean_base(spark, sf_dir):
    from hops_spark.io.readers import load_table
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_make_training_shards_job(spark, sf_dir, tmp_path):
    """Corpus -> shards CLI: deterministic, budget respected, no chunk
    lost between chunking and packing."""
    import sys

    from pyspark.sql import functions as F
    sys.path.insert(0, "/root/repo/tools")
    from clean_corpus import clean_corpus
    from make_training_shards import make_training_shards

    clean_corpus(spark, sf_dir, str(tmp_path / "c"))
    s1 = make_training_shards(spark, str(tmp_path / "c" / "clean"),
                              str(tmp_path / "s1"), n_merges=4,
                              chunk_tokens=32, overlap=4, budget=128)
    s2 = make_training_shards(spark, str(tmp_path / "c" / "clean"),
                              str(tmp_path / "s2"), n_merges=4,
                              chunk_tokens=32, overlap=4, budget=128)
    assert s1["shards"] == s2["shards"] and s1["tokens"] == s2["tokens"]
    total_rows = sum(v["rows"] for v in s1["shards"].values())
    assert total_rows == s1["chunks"] > 0
    train = spark.read.parquet(str(tmp_path / "s1" / "train"))
    # streaming-packing contract: a bin overflows by at most one
    # sequence, so every bin's START stays under budget
    starts = (train.groupBy("bin_id")
                   .agg(F.sum("n_tokens").alias("toks"),
                        F.count("*").alias("n"))
                   .collect())
    assert all(r["toks"] - 0 < 128 + 32 for r in starts)  # bounded overflow
    assert {r["doc_id"] for r in train.select("doc_id").collect()} > set()


@pytest.mark.parametrize("op, kwargs", [
    ("knn_bruteforce", {}),
    ("hard_negatives", {"dup_threshold": 1.0}),
], ids=["knn_bruteforce", "hard_negatives"])
def test_knn_bruteforce_eval_guard(spark, op, kwargs):
    """The brute-force paths are eval-only by CONTRACT: a query panel
    over the guard raises unless explicitly opted in, and the opt-in
    scores that same panel."""
    from hops_spark.ops import similarity as S

    fn = getattr(S, op)
    corpus = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
        (F.col("id") % 2).cast("int").alias("label"))
    n_q = S.BRUTEFORCE_MAX_QUERIES + 5
    big_panel = spark.range(100, 100 + n_q).select(
        F.col("id").alias("q_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("q_vec"),
        F.lit(0).alias("q_label"))
    with pytest.raises(ValueError, match="eval guard"):
        fn(corpus, big_panel, k=2, **kwargs)
    # explicit opt-in on the same panel: 2 neighbors per query
    # (hard_negatives: the two label-1 vectors, ids 1 and 3)
    out = fn(corpus, big_panel, k=2, allow_large=True, **kwargs)
    assert out.count() == 2 * n_q


def test_knn_family_shares_one_probe_score_rank_path():
    """Structural guard: the similarity ops rank through
    ``top_k_neighbors`` (ops/sort.top_k_per_group) — no ``row_number``
    call and no ordered per-query window of their own — and the
    query-side nearest-cells probe expression lives only in
    ``probe_cells``, across ops/similarity.py, ops/pq.py and
    tools/ann_index.py."""
    import ast
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = re.compile(r'F\.slice\(F\.reverse\(F\.array_sort\('
                       r'_cell_sims\(F\.col\("?q_?vec')

    def probe_sites(rel):
        src = open(os.path.join(root, rel)).read()
        return [f.name for f in ast.parse(src).body
                if isinstance(f, ast.FunctionDef) and probe.search(
                    re.sub(r"\s+", "", ast.get_source_segment(src, f)))]

    assert probe_sites("hops_spark/ops/similarity.py") == ["probe_cells"]
    assert probe_sites("hops_spark/ops/pq.py") == []
    assert probe_sites("tools/ann_index.py") == []

    src = open(os.path.join(root, "hops_spark/ops/similarity.py")).read()
    assert "F.row_number(" not in src
    # no Window.partitionBy(...).orderBy(...): a hand-typed rank window
    ordered = [n.lineno for n in ast.walk(ast.parse(src))
               if isinstance(n, ast.Attribute) and n.attr == "orderBy"
               and isinstance(n.value, ast.Call)
               and getattr(n.value.func, "attr", None) == "partitionBy"]
    assert ordered == []


def test_kmv_sketch_merge_and_estimate_properties(spark):
    """KMV: (1) the union sketch equals the k smallest of the two
    sketches' hash union (exact mergeability); (2) below k the
    estimate IS the exact distinct count; (3) above k the estimate is
    within the theta-sketch error envelope for k=64 (~1/sqrt(k))."""
    from pyspark.sql import functions as F

    from hops_spark.ops.sketch import kmv_estimate_ppm, kmv_sketch

    k = 64
    small = spark.range(0, 40).select(F.lit("s").alias("g"),
                                      F.col("id").alias("uid"))
    sk_small = kmv_sketch(small, "g", "uid", k)
    est = kmv_estimate_ppm(sk_small, k).collect()[0]
    assert (est["n_kept"], est["est_distinct"]) == (40, 40)

    big = spark.range(0, 20000).select(F.lit("b").alias("g"),
                                       F.col("id").alias("uid"))
    estb = kmv_estimate_ppm(kmv_sketch(big, "g", "uid", k), k).collect()[0]
    assert estb["n_kept"] == k
    assert abs(estb["est_distinct"] - 20000) / 20000 < 3 / (k ** 0.5)

    # mergeability: sketch(A ∪ B) == k-smallest(sketch(A) ∪ sketch(B))
    a = spark.range(0, 5000).select(F.lit("g").alias("g"),
                                    F.col("id").alias("uid"))
    b = spark.range(2500, 9000).select(F.lit("g").alias("g"),
                                       F.col("id").alias("uid"))
    direct = {r["hv"] for r in
              kmv_sketch(a.unionByName(b), "g", "uid", k).collect()}
    ha = [r["hv"] for r in kmv_sketch(a, "g", "uid", k).collect()]
    hb = [r["hv"] for r in kmv_sketch(b, "g", "uid", k).collect()]
    merged = set(sorted(set(ha) | set(hb))[:k])
    assert direct == merged


def test_hashed_bow_embedding_contract(spark):
    """Unit norm, determinism, sign sensitivity, and the similarity
    contract: identical texts -> cosine 1; disjoint-token texts ->
    |cosine| bounded well below 1 (hash collisions only)."""
    from pyspark.sql import functions as F

    from hops_spark.ops.retrieval import hashed_bow_embedding
    from hops_spark.ops.similarity import cosine

    rows = [(1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "epsilon zeta eta theta iota kappa"),
            (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb = hashed_bow_embedding(df)
    got = {r["doc_id"]: list(r["embedding"]) for r in emb.collect()}
    assert set(got) == {1, 2, 3}          # empty text -> no tokens -> no row
    for d, v in got.items():
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9, d
    a = emb.alias("a").select(F.col("doc_id").alias("ia"),
                              F.col("embedding").alias("va"))
    b = emb.alias("b").select(F.col("doc_id").alias("ib"),
                              F.col("embedding").alias("vb"))
    cos = {(r["ia"], r["ib"]): r["c"] for r in
           a.join(b, F.col("ia") < F.col("ib"))
            .select("ia", "ib", F.round(cosine(F.col("va"), F.col("vb")), 6)
                    .alias("c")).collect()}
    assert cos[(1, 2)] == 1.0
    assert abs(cos[(1, 3)]) < 0.75 and abs(cos[(2, 3)]) < 0.75


def test_doc_index_cli_end_to_end(spark, sf_dir, tmp_path):
    """documents -> hashed-BoW embed -> SQ8 cell index -> pruned probe:
    the top-1 neighbor of every probe doc scores a real high cosine
    through the quantized index (chain smoke, not a recall benchmark)."""
    import json as _json
    import subprocess
    import sys as _sys

    out = subprocess.run(
        [_sys.executable, "tools/doc_index.py", sf_dir,
         str(tmp_path / "idx")],
        capture_output=True, text=True, cwd="/root/repo")
    assert out.returncode == 0, out.stderr[-500:]
    rep = _json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["n_docs_indexed"] > 0
    assert rep["cells_probed"]
    assert all(c > 0.5 for c in rep["top1_cos"].values()), rep["top1_cos"]


def test_kmv_overlap_saturated_branch_matches_oracle(spark, tmp_path):
    """Round-5 ADVICE regression: the registered ``kmv_audience_overlap``
    oracle SQL interpolated a 16**15 domain while the Spark estimator
    uses sketch.KMV_DOMAIN = 16**13 — invisible at sf0.001/0.01 where
    n_kept < k takes the exact path. This probe writes a synthetic
    events fixture with 2000 distinct users per audience (>= k = 256
    distinct union hashes), FORCING the n_kept == k estimator branch,
    and compares the registered Spark query against the registered
    DuckDB oracle value-for-value."""
    import duckdb
    from pyspark.sql import functions as F

    from hops_spark.registry import load_all

    spec = load_all()["kmv_audience_overlap"]
    # events fixture: clicks from users 0..1999, views from 1000..2999
    # (overlap 1000) — both audiences saturate a k=256 sketch.
    ev = (spark.range(0, 6000)
          .select(F.col("id").alias("event_id"),
                  F.timestamp_micros(F.col("id") * 1000000).alias("ts"),
                  F.when(F.col("id") < 3000, F.col("id") % 2000)
                   .otherwise(1000 + F.col("id") % 2000).alias("user_id"),
                  F.when(F.col("id") < 3000, F.lit("click"))
                   .otherwise(F.lit("view")).alias("event_type"),
                  F.lit(1.0).alias("value"),
                  F.lit("{}").alias("props")))
    ev.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    sdf = spec.fn(spark, str(tmp_path))
    srow = sdf.collect()[0].asDict()
    assert srow["n_kept"] == 256, "probe failed to saturate the sketch"

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{tmp_path}/events.parquet/*.parquet'")
    drow = dict(zip([c[0] for c in con.sql(spec.sql).description],
                    con.sql(spec.sql).fetchall()[0]))
    assert srow == drow, f"spark {srow} vs oracle {drow}"
    # sanity: the estimator is in the theta error envelope for k=256
    assert abs(srow["est_union"] - srow["exact_union"]) \
        / srow["exact_union"] < 3 / (256 ** 0.5)


def test_knn_gemm_equals_scalar_bruteforce(spark, sf_dir):
    """knn_bruteforce_gemm must return EXACTLY knn_bruteforce's rows
    (same ids, same rounded cosines, same ranks) — the candidates +
    exact-rerank construction makes BLAS float noise unobservable."""
    from pyspark.sql import functions as F

    from hops_spark.io.readers import load_table
    from hops_spark.ops.similarity import knn_bruteforce, knn_bruteforce_gemm

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = (e.filter(F.col("vec_id") % 37 == 0)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    cols = ["q_id", "neighbor_id", "cos_sim", "rnk"]
    got = sorted(map(tuple, knn_bruteforce_gemm(e, q, 7)
                     .select(*cols).collect()))
    want = sorted(map(tuple, knn_bruteforce(e, q, 7)
                      .select(*cols).collect()))
    assert got == want and len(got) > 0


def test_knn_gemm_wide_rounded_tie_at_boundary(spark):
    """Round-6 ADVICE regression: > k + margin corpus rows that all TIE
    at 6 decimals straddle the k-th boundary. Batch pruning must keep
    the whole rounded tie so the low-id true top-k members survive into
    the exact rerank — unrounded-score argpartition alone could evict
    them on BLAS ulp noise. margin=0 makes any pruning leak fatal."""
    from pyspark.sql import functions as F

    from hops_spark.ops.similarity import knn_bruteforce, knn_bruteforce_gemm

    base = [1.0, 0.5, 0.25, 0.125]
    # 40 vectors with identical direction (cosine 1.0 vs the query after
    # normalization — a 40-wide rounded tie), plus 20 distinct-score rows.
    rows = [(i, [x * float(1 + (i % 7)) for x in base]) for i in range(40)]
    rows += [(100 + j, [1.0, 0.5 + j * 0.01, -0.3, 0.125]) for j in range(20)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(999, base)], "q_id long, q_vec array<double>")
    cols = ["q_id", "neighbor_id", "cos_sim", "rnk"]
    got = sorted(map(tuple, knn_bruteforce_gemm(e, q, 5, margin=0)
                     .select(*cols).collect()))
    want = sorted(map(tuple, knn_bruteforce(e, q, 5)
                      .select(*cols).collect()))
    assert got == want and len(got) == 5
    # tie-break is id-asc: the winners are exactly vec_id 0..4
    assert [r[1] for r in sorted(got, key=lambda r: r[3])] == [0, 1, 2, 3, 4]


def test_knn_gemm_self_row_margin_zero(spark):
    """Round-7 ADVICE regression: when the query panel is a subset of
    the corpus, the query's own corpus row (cosine 1.0) must not
    consume a pruning seed slot — with margin=0 it would evict the true
    k-th neighbor before the rerank's self-exclusion filter runs."""
    from hops_spark.ops.similarity import knn_bruteforce, knn_bruteforce_gemm

    base = [1.0, 0.5, 0.25, 0.125]
    # corpus: the query row itself (vec_id 5) + 20 distinct-score rows
    rows = [(5, base)]
    rows += [(100 + j, [1.0, 0.5 + j * 0.01, -0.3, 0.125])
             for j in range(20)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(5, base)], "q_id long, q_vec array<double>")
    cols = ["q_id", "neighbor_id", "cos_sim", "rnk"]
    got = sorted(map(tuple, knn_bruteforce_gemm(e, q, 5, margin=0)
                     .select(*cols).collect()))
    want = sorted(map(tuple, knn_bruteforce(e, q, 5)
                      .select(*cols).collect()))
    assert got == want and len(got) == 5
    assert all(r[1] != 5 for r in got)    # self-row never returned


def test_clean_corpus_quality_survivor(spark, sf_dir, tmp_path):
    """--survivor-quality keeps ONE member per near-dup cluster (same
    survivor count as min-id mode) and every kept member has the
    cluster's maximum quality score."""
    import sys as _sys
    if "/root/repo/tools" not in _sys.path:
        _sys.path.insert(0, "/root/repo/tools")
    from clean_corpus import clean_corpus

    c_min = clean_corpus(spark, sf_dir, str(tmp_path / "m"))
    c_q = clean_corpus(spark, sf_dir, str(tmp_path / "q"),
                       survivor="quality")
    # one survivor per cluster either way
    assert c_q["after_near_dedup"] == c_min["after_near_dedup"]
    # downstream gates still run and write
    assert c_q["written"] > 0


def test_clean_corpus_weighted_dedup_only_tightens(spark, sf_dir, tmp_path):
    """--weighted-dedup widens the near-dup pair graph (union with the
    tf-weighted twins), so it can only DROP more docs at the near-dedup
    stage — never keep more — and stays deterministic."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from clean_corpus import clean_corpus

    base = clean_corpus(spark, sf_dir, str(tmp_path / "base"))
    wj = clean_corpus(spark, sf_dir, str(tmp_path / "wj"),
                      weighted_dedup=True)
    assert wj["after_near_dedup"] <= base["after_near_dedup"]
    assert wj["after_near_dedup"] > 0
    wj2 = clean_corpus(spark, sf_dir, str(tmp_path / "wj2"),
                       weighted_dedup=True)
    assert wj == wj2


def test_clean_corpus_mixture_mode(spark, sf_dir, tmp_path):
    """--mixture (temperature-scaled source downsampling, tau=2): only
    removes docs (monotone vs the base run), is deterministic across
    reruns, and leaves small sources intact (sqrt scaling lifts
    below-average sources to keep_ppm = 1e6, the downsample-only cap)."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from clean_corpus import clean_corpus

    base = clean_corpus(spark, sf_dir, str(tmp_path / "base"))
    m1 = clean_corpus(spark, sf_dir, str(tmp_path / "m1"), mixture=True)
    m2 = clean_corpus(spark, sf_dir, str(tmp_path / "m2"), mixture=True)
    assert m1 == m2                              # rerun-stable
    assert m1["after_mixture"] <= m1["after_perplexity"]
    assert m1["written"] <= base["written"]
    # every source still represented (tau=2 never zeroes a source)
    out = spark.read.parquet(str(tmp_path / "m1" / "clean"))
    n_src_out = out.select("source").distinct().count()
    n_src_base = (spark.read.parquet(str(tmp_path / "base" / "clean"))
                  .select("source").distinct().count())
    assert n_src_out == n_src_base


# --- hybrid RRF ----------------------------------------------------------


def test_hashed_sign_bucket_matches_engine_derivation(spark):
    """The plan-time literal (bucket, sign) must be bit-identical to the
    hashed_bow_embedding Column derivation for any term."""
    from pyspark.sql import functions as F

    from hops_spark.ops.retrieval import hashed_sign_bucket
    terms = ["spark", "merge", "vector", "zeta", "q0", ""]
    df = spark.createDataFrame([(t,) for t in terms], "w string")
    h = F.md5(F.concat_ws("|", F.lit("hbow"), F.col("w")))
    got = {r["w"]: (r["b"], r["s"]) for r in df.select(
        "w",
        F.pmod(F.conv(F.substring(h, 1, 7), 16, 10).cast("long"),
               F.lit(64)).alias("b"),
        F.when(F.conv(F.substring(h, 8, 1), 16, 10).cast("long") % 2 == 0,
               F.lit(1)).otherwise(F.lit(-1)).alias("s")).collect()}
    for t in terms:
        assert hashed_sign_bucket(t, 64) == got[t], t


def test_ranked_bounded_equals_row_number(spark):
    from pyspark.sql import functions as F

    from hops_spark.ops.retrieval import ranked_bounded
    rows = [(1, 5.0), (2, 7.0), (3, 5.0), (4, 1.0), (5, 7.0)]
    df = spark.createDataFrame(rows, "doc_id long, s double")
    got = {r["doc_id"]: r["rank"]
           for r in ranked_bounded(df, "s").collect()}
    # (s desc, id asc): 2(7.0) 5(7.0) 1(5.0) 3(5.0) 4(1.0)
    assert got == {2: 1, 5: 2, 1: 3, 3: 4, 4: 5}


def test_rrf_fuse_known_answer(spark):
    """Doc present in both lists at middling ranks must outrank a doc
    that tops one list but misses the other (the point of RRF)."""
    from hops_spark.ops.retrieval import rrf_fuse
    lex = spark.createDataFrame(
        [(10, 9.0), (11, 8.0), (12, 7.0)], "doc_id long, bm25 double")
    den = spark.createDataFrame(
        [(11, 90), (12, 80), (13, 70)], "doc_id long, dot long")
    out = {r["doc_id"]: (r["r_lex"], r["r_dense"], r["rrf_ppm"])
           for r in rrf_fuse(lex, den, topk=10).collect()}
    # doc 11: ranks (2, 1) -> 1e6//62 + 1e6//61 = 16129 + 16393 = 32522
    assert out[11] == (2, 1, 32522)
    # doc 10: lex rank 1 only -> 1e6//61 = 16393
    assert out[10] == (1, 0, 16393)
    assert out[11][2] > out[10][2] and out[12][2] > out[10][2]
    # absent-list rank contributes exactly 0, never 1e6//60
    assert out[13] == (0, 3, 15873)


def test_phrase_indexed_equals_scan(spark, sf_dir):
    """Posting-list intersection must reproduce the map-only scan
    exactly — including multi-occurrence counts and first positions,
    and a phrase crossing itself ('x y x y' in 'x y x y x y')."""
    from hops_spark.io.readers import load_table
    from hops_spark.ops.retrieval import (phrase_occurrences,
                                          phrase_occurrences_indexed)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for phrase in (["order", "fast"], ["the"], ["no_such_tok", "order"]):
        scan = sorted(tuple(r) for r in phrase_occurrences(d, phrase).collect())
        idx = sorted(tuple(r) for r in
                     phrase_occurrences_indexed(d, phrase).collect())
        assert scan == idx, phrase
    tiny = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "x x y y"), (3, "y x")],
        "doc_id long, text string")
    idx = {r["doc_id"]: (r["n_occ"], r["first_pos"]) for r in
           phrase_occurrences_indexed(tiny, ["x", "y", "x", "y"]).collect()}
    assert idx == {1: (2, 1)}


def test_clean_corpus_boilerplate_and_budget_modes(spark, sf_dir, tmp_path):
    """--strip-boilerplate cuts sentence mass before any gate;
    --budget-ppm keeps only the quality-ranked token head. Both stay
    deterministic and the budget is actually respected."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from clean_corpus import clean_corpus

    from hops_spark.ops.text import words as _words

    c1 = clean_corpus(spark, sf_dir, str(tmp_path / "a"),
                      strip_boilerplate=True, budget_ppm=500_000)
    assert c1["boiler_sents_cut"] > 0
    assert c1["after_budget"] <= c1["after_perplexity"]
    assert c1["written"] == c1["after_budget"] > 0
    c2 = clean_corpus(spark, sf_dir, str(tmp_path / "b"),
                      strip_boilerplate=True, budget_ppm=500_000)
    assert c1 == c2
    # the written head's token mass is within 50% of the pre-budget
    # survivors' total (recomputed from the written corpus + the run
    # WITHOUT the budget stage on the same flags)
    c3 = clean_corpus(spark, sf_dir, str(tmp_path / "c"),
                      strip_boilerplate=True)
    from pyspark.sql import functions as F
    kept = spark.read.parquet(str(tmp_path / "a" / "clean"))
    full = spark.read.parquet(str(tmp_path / "c" / "clean"))
    tk = kept.select(F.size(_words("text")).alias("n")) \
             .agg(F.sum("n")).collect()[0][0]
    tf = full.select(F.size(_words("text")).alias("n")) \
             .agg(F.sum("n")).collect()[0][0]
    assert tk * 1_000_000 <= 500_000 * tf

"""Full-text retrieval over the corpus: inverted-index statistics and
BM25 ranking as pure DataFrame aggregations.

The classic MapReduce demo family (word count → inverted index → ranked
search) re-expressed Spark-first: postings are a (term, doc) aggregate,
document frequency is a second aggregate over it, and scoring a query is
a broadcast join against the handful of query terms — no index structure
is materialized because Catalyst's hash aggregates ARE the index build.

Scale notes (100 TB):
- The only corpus-wide shuffles are the two aggregates (doc lengths,
  term postings). Both have map-side partial aggregation.
- Query-term filtering happens BEFORE the postings aggregate, so the
  shuffle for scoring moves only rows whose term is in the query —
  a tiny fraction of the token stream.
- Per-term totals (df, idf) are broadcast; corpus-level scalars
  (N, avgdl) ride a 1-row crossJoin broadcast.
- Determinism: per-term contributions are summed in the fixed order of
  the query-term list (a left-to-right column sum, not a float SUM
  aggregate whose partition order varies), so an independent engine
  reproduces the score bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hops_spark.ops.text import bound_words, window_starts, words

K1 = 1.2
B = 0.75


def doc_term_stats(docs: DataFrame, terms: list[str], id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(doc, dl, tf_0..tf_k): document length AND per-query-term counts
    in ONE aggregate over the exploded token stream. Map-side partial
    aggregation collapses each partition to one row per doc before the
    shuffle, so shuffle volume is #docs rows (k+1 longs wide) — not the
    token stream. This one pass replaces a doc-length aggregate, a
    postings aggregate, their join, and a pivot (5 shuffles -> 1)."""
    toks = docs.select(F.col(id_col),
                       F.explode(words(text_col)).alias("term"))
    tf_cols = [F.sum((F.col("term") == t).cast("long")).alias(f"tf_{i}")
               for i, t in enumerate(terms)]
    return (toks.groupBy(id_col)
                .agg(F.count("*").alias("dl"), *tf_cols))


def bm25_scores(docs: DataFrame, query_terms: list[str],
                k1: float = K1, b: float = B,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BM25 (Robertson/Okapi, the (k1+1) variant) of every matching doc
    against the fixed query. Returns (doc, n_terms_matched, score).

    Plan: one doc-stats shuffle + one 1-row corpus aggregate (n_docs,
    avgdl, every df_t) broadcast back — nothing else moves."""
    # per_doc feeds both the 1-row corpus-stats aggregate and the
    # scoring pass; cache it (#docs rows, k+2 longs wide) so the token
    # explode + aggregate runs once, not per consumer.
    per_doc = doc_term_stats(docs, query_terms, id_col, text_col).cache()
    df_cols = [F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
               for i in range(len(query_terms))]
    stats = per_doc.agg(F.count("*").cast("double").alias("n_docs"),
                        F.avg("dl").alias("avgdl"), *df_cols)
    scored = per_doc.crossJoin(F.broadcast(stats))
    score, n_matched = _bm25_score_cols(len(query_terms), k1, b)
    return (scored.filter(n_matched > 0)
                  .select(F.col(id_col),
                          n_matched.cast("long").alias("n_terms_matched"),
                          F.round(score, 6).alias("bm25")))


def _bm25_score_cols(n_terms: int, k1: float = K1,
                     b: float = B) -> tuple[Column, Column]:
    """(score, n_matched) columns over a (dl, tf_0.., df_0.., n_docs,
    avgdl) row — ONE expression text shared by every BM25 consumer.
    Fixed-order sum over the query-term list: a left-to-right column
    add, not a float SUM aggregate whose partition fold order varies —
    an independent engine reproduces the double bit-for-bit."""
    score = F.lit(0.0)
    n_matched = F.lit(0)
    for i in range(n_terms):
        tf, dfc = F.col(f"tf_{i}"), F.col(f"df_{i}")
        idf = F.log((F.col("n_docs") - dfc + 0.5) / (dfc + 0.5) + 1.0)
        contrib = (idf * tf * (k1 + 1)
                   / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
        score = score + F.when(tf > 0, contrib).otherwise(F.lit(0.0))
        n_matched = n_matched + F.when(tf > 0, 1).otherwise(0)
    return score, n_matched


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = K1, b: float = B,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-k docs by BM25, ties broken by doc id (deterministic)."""
    scored = bm25_scores(docs, query_terms, k1, b, id_col, text_col)
    return (scored.orderBy(F.col("bm25").desc(), F.col(id_col))
                  .limit(k))


def cooccurrence_edges(bound: DataFrame, window: int = 2) -> DataFrame:
    """(word_a, word_b, n_cooc) pair counts over a ``bound_words``
    frame: per-doc unordered within-``window`` pairs built ARRAY-SIDE
    (each ``window_starts`` pair start i pairs with the next
    ``window`` tokens), one map-side-combined count aggregate — the
    shared edge source for cooccurrence_topk and the co-occurrence
    graph ops."""
    w = F.col("_w")
    pair_structs = F.flatten(F.transform(
        window_starts(w, 2),
        lambda i: F.transform(
            F.sequence(F.lit(1), F.least(F.lit(window), F.size(w) - i)),
            lambda d: F.struct(
                F.least(F.element_at(w, i), F.element_at(w, i + d)).alias("a"),
                F.greatest(F.element_at(w, i), F.element_at(w, i + d)).alias("b")))))
    pairs = (bound.select(F.explode(pair_structs).alias("p"))
                  .select(F.col("p.a").alias("word_a"),
                          F.col("p.b").alias("word_b")))
    return pairs.groupBy("word_a", "word_b").agg(F.count("*").alias("n_cooc"))


def cooccurrence_topk(docs: DataFrame, window: int = 2, k: int = 20,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Word co-occurrence, the canonical MapReduce 'pairs' design
    pattern (public: Lin & Dyer, "Data-Intensive Text Processing with
    MapReduce", ch.3) — re-expressed map-only: the per-doc pair list
    (unordered word pairs within ``window`` tokens) is built ARRAY-SIDE
    over the ``bound_words`` array, so the only shuffles are the pair-count
    aggregate and the tiny unigram aggregate (both map-side combined).
    The reference idiom shuffles one record per pair occurrence; this
    shuffles one record per distinct pair per partition.

    Returns the k most frequent pairs with an overlap-coefficient
    affinity (cooc/min(unigram counts)) in exact integer ppm."""
    bound = bound_words(docs, id_col, text_col=text_col)
    cnt = cooccurrence_edges(bound, window)
    uni = (bound.select(F.explode(F.col("_w")).alias("word"))
                .groupBy("word").agg(F.count("*").alias("c")))
    ua = uni.select(F.col("word").alias("word_a"), F.col("c").alias("_ca"))
    ub = uni.select(F.col("word").alias("word_b"), F.col("c").alias("_cb"))
    return (cnt.join(F.broadcast(ua), "word_a")
               .join(F.broadcast(ub), "word_b")
               .withColumn("affinity_ppm",
                           F.expr("(n_cooc * 1000000) div least(_ca, _cb)"))
               .select("word_a", "word_b", "n_cooc", "affinity_ppm")
               .orderBy(F.col("n_cooc").desc(), "word_a", "word_b")
               .limit(k))


MIN_COOC_PMI = 5


def pmi_topk(docs: DataFrame, window: int = 2, k: int = 20,
             min_cooc: int = MIN_COOC_PMI, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Pointwise-mutual-information collocations (word_a, word_b,
    n_cooc, pmi_micro): the association measure behind phrase/vocab
    curation for tokenizer training (public: Church & Hanks 1990;
    word2vec's phrase pass, Mikolov et al. 2013 §4, is the same score
    with a discount). Shares the pair machinery with cooccurrence_topk
    but ranks by ASSOCIATION rather than raw frequency — "los+angeles"
    beats "of+the".

    PMI uses endpoint marginals over the pair multiset: with
    p(a,b) = n_ab/N and p(a) = m_a/(2N) (m = Σ pair counts touching
    the word, N = Σ pair counts),

        pmi = ln( 4·n_ab·N / (m_a·m_b) )

    snapped to integer micro-nats — one fixed-shape double expression
    over three int64 inputs, engine-exact under the module's
    determinism contract. ``min_cooc`` suppresses the unstable
    low-count tail (PMI's classic failure mode: a hapax pair has
    maximal PMI), and is the scale control: the ranked set is the
    vocab-bounded pair table AFTER the count filter.

    Plan: one pair-count aggregate (map-side combined), one marginal
    aggregate over the pair table, two broadcast joins, TakeOrdered
    top-k. Nothing corpus-proportional past the first aggregate."""
    bound = bound_words(docs, id_col, text_col=text_col)
    cnt = cooccurrence_edges(bound, window).filter(F.col("n_cooc") >= min_cooc)
    marg = (cnt.select(F.col("word_a").alias("word"), "n_cooc")
               .unionByName(cnt.select(F.col("word_b").alias("word"),
                                       "n_cooc"))
               .groupBy("word").agg(F.sum("n_cooc").cast("long").alias("m")))
    tot = cnt.agg(F.sum("n_cooc").cast("long").alias("nn"))
    ma = marg.select(F.col("word").alias("word_a"), F.col("m").alias("_ma"))
    mb = marg.select(F.col("word").alias("word_b"), F.col("m").alias("_mb"))
    return (cnt.join(F.broadcast(ma), "word_a")
               .join(F.broadcast(mb), "word_b")
               .crossJoin(F.broadcast(tot))
               .withColumn("pmi_micro",
                           F.expr("CAST(round(ln((4e0 * n_cooc * nn) / "
                                  "(CAST(_ma AS DOUBLE) * _mb)) * 1000000, 0)"
                                  " AS BIGINT)"))
               .select("word_a", "word_b", "n_cooc", "pmi_micro")
               .orderBy(F.col("pmi_micro").desc(), "word_a", "word_b")
               .limit(k))


def tfidf_postings(docs: DataFrame, min_df: int = 2, max_df: int = 10_000,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """TF-IDF postings (doc, term, w_milli): one tf aggregate over the
    token stream, df from the tf table itself (vocab-bounded, cached),
    idf = ln(N/df). Weights are snapped to exact integer MILLI units
    (round(tf·idf·1e3)) so every downstream sum — norms, dot products —
    is an order-free integer aggregate an independent engine reproduces
    bit-for-bit (a float SUM's partition fold order varies; an integer
    sum cannot).

    df-bounds are the scale control: terms in fewer than ``min_df`` docs
    cannot form a pair (dropping them shrinks the postings self-join's
    probe side), and terms in more than ``max_df`` docs are the
    similarity-join skew bomb — each contributes df² pair rows — so the
    classic IR move (treat ubiquitous terms as stopwords; their idf ≈ 0
    anyway) caps the join at Σ df² ≤ vocab · max_df²."""
    toks = docs.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
    tf = (toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
              .cache())
    # N from the cached tf table (1-row aggregate, broadcast back) — no
    # second corpus scan, no driver-side action on the data path.
    n_docs = tf.agg(F.countDistinct(id_col).cast("double").alias("n_docs"))
    dfs = (tf.groupBy("term").agg(F.count("*").alias("df"))
             .filter((F.col("df") >= min_df) & (F.col("df") <= max_df)))
    return (tf.join(dfs, "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("w_milli",
                          F.expr("CAST(round(tf * ln(n_docs / CAST(df AS DOUBLE))"
                                 " * 1000, 0) AS BIGINT)"))
              .select(id_col, "term", "w_milli"))


def tfidf_cosine_topk(docs: DataFrame, k: int = 20, min_df: int = 2,
                      max_df: int = 10_000, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Top-k most-similar document pairs by TF-IDF cosine over the
    df-pruned term space. Plan: postings self-join on term (the one
    corpus-wide shuffle; bounded by max_df — see tfidf_postings), an
    integer dot-product aggregate per pair, norms from a per-doc
    aggregate of the same postings (cached, consumed twice). Cosine in
    ppm: dot·1e6 / (√n2a·√n2b) — IEEE sqrt/mul/div are correctly
    rounded, so the double is engine-identical given identical integer
    inputs. Ties break on the id pair."""
    post = tfidf_postings(docs, min_df, max_df, id_col, text_col).cache()
    norms = (post.groupBy(id_col)
                 .agg(F.sum(F.col("w_milli") * F.col("w_milli")).alias("n2")))
    a = post.select(F.col(id_col).alias("id_a"), "term",
                    F.col("w_milli").alias("wa"))
    b = post.select(F.col(id_col).alias("id_b"), "term",
                    F.col("w_milli").alias("wb"))
    dots = (a.join(b, "term")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot")))
    na = norms.select(F.col(id_col).alias("id_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("n2").alias("n2b"))
    return (dots.join(na, "id_a").join(nb, "id_b")
                .withColumn("cosine_ppm",
                            F.expr("CAST(round(dot * 1e6 / (sqrt(n2a) * sqrt(n2b)), 0)"
                                   " AS BIGINT)"))
                .select("id_a", "id_b", "cosine_ppm")
                .orderBy(F.col("cosine_ppm").desc(), "id_a", "id_b")
                .limit(k))


# --- hashed bag-of-words embedding (the feature-hashing vectorizer) -----


def signed_bucket_cols(token, dim: int, seed: str):
    """(bucket, sign) Columns of one token under the canonical signed
    hashing-trick derivation: md5('seed|token'), first 7 hex chars mod
    ``dim`` → bucket, parity of the 8th → ±1 sign. ONE definition
    shared by hashed_bow_embedding / hashed_dot_topk /
    hybrid_candidate_lists (ADVICE r12: the derivation was copy-pasted
    in three places; drift in any copy would silently break the
    row-identity guarantee with the oracle). Mirrored plan-time by
    ``hashed_sign_bucket`` and bit-for-bit by the DuckDB oracle."""
    h = F.md5(F.concat_ws("|", F.lit(seed), token))
    bucket = F.pmod(F.conv(F.substring(h, 1, 7), 16, 10).cast("long"),
                    F.lit(dim))
    sign = F.when(F.conv(F.substring(h, 8, 1), 16, 10).cast("long") % 2 == 0,
                  F.lit(1)).otherwise(F.lit(-1))
    return bucket, sign


def query_weight_col(bucket, q: dict[int, int]):
    """Per-token query weight: chained CASE mapping the token's bucket
    to the sparse query vector's weight (0 elsewhere) — the shared
    companion of ``signed_bucket_cols`` for the dot-product faces."""
    qw = F.lit(0)
    for b, wgt in q.items():
        qw = F.when(bucket == b, F.lit(wgt)).otherwise(qw)
    return qw


def hashed_bow_embedding(docs: DataFrame, dim: int = 64,
                         id_col: str = "doc_id", text_col: str = "text",
                         seed: str = "hbow") -> DataFrame:
    """REAL text vectorization with no model weights: the classic
    feature-hashing (signed hashing-trick) vectorizer (public: Weinberger
    et al. 2009; sklearn HashingVectorizer) — each token hashes to one
    of ``dim`` buckets with a ±1 sign from a second hash bit, bucket
    sums are L2-normalized. Deterministic (md5), engine-portable, and a
    legitimate cosine-similarity embedding for near-dup/topic work —
    the plumbing an external model embedding drops into unchanged.

    Cost: one token explode + ONE (doc, bucket) aggregate (<= dim rows
    per doc), dense vector assembled map-side. Output: (id, embedding
    array<double> of unit L2 norm; all-zero docs -> zero vector)."""
    from hops_spark.ops.text import words
    tok = docs.select(F.col(id_col), F.explode(words(text_col)).alias("w"))
    bucket, sign = signed_bucket_cols(F.col("w"), dim, seed)
    cells = (tok.select(id_col, bucket.alias("b"), sign.alias("s"))
                .groupBy(id_col, "b")
                .agg(F.sum("s").cast("double").alias("v")))
    m = (cells.groupBy(id_col)
              .agg(F.map_from_entries(F.collect_list(F.struct("b", "v")))
                    .alias("m")))
    dense = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda j: F.coalesce(F.element_at(
                            F.col("m"), j.cast("long")), F.lit(0.0)))
    norm = F.sqrt(F.aggregate(dense, F.lit(0.0),
                              lambda acc, x: acc + x * x))
    unit = F.when(norm == 0.0, dense).otherwise(
        F.transform(dense, lambda x: x / norm))
    return m.select(F.col(id_col), unit.alias("embedding"))


def phrase_occurrences(docs: DataFrame, phrase: list[str],
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact PHRASE SEARCH via positional matching — the positional-
    postings extension of the inverted-index family (the classic
    n-way postings join t0@p ⋈ t1@p+1 ⋈ ...), expressed Spark-first
    as an ARRAY-SIDE scan: per document, test every start offset for
    the full n-term run with one filter over a position sequence.
    MAP-ONLY — no postings materialization, no joins, no shuffle
    before the final ordering; at 100 TB the phrase test rides the
    document scan like any other projection, and a pre-filter on
    contains(text, phrase[0]) would push into the parquet scan.

    Returns (id, n_occ, first_pos) for documents containing the phrase
    (positions 1-based): the ``window_starts`` of the ``bound_words``
    array whose window spells the phrase. Tokenization = ops/text.words
    (the repo-wide contract the DuckDB oracle mirrors)."""
    from functools import reduce

    n = len(phrase)
    w = F.col("_w")

    def hit(i):
        return reduce(lambda a, b: a & b,
                      [F.element_at(w, i + j) == phrase[j]
                       for j in range(n)])

    hits = F.filter(window_starts(w, n), hit)
    return (bound_words(docs, id_col, text_col=text_col)
            .select(F.col(id_col),
                    F.size(hits).cast("long").alias("n_occ"),
                    F.element_at(hits, 1).cast("long").alias("first_pos"))
            .filter(F.col("n_occ") >= 1))


# --- hybrid retrieval: reciprocal-rank fusion -----------------------------


def hashed_sign_bucket(term: str, dim: int = 64,
                       seed: str = "hbow") -> tuple[int, int]:
    """Plan-time (bucket, sign) of one literal term under the EXACT
    hashed_bow_embedding derivation — hashlib.md5 of the same
    'seed|term' string the engines hash, first 7 hex chars mod dim,
    sign from the parity of the 8th. Mirrored bit-for-bit by a unit
    test against the Column derivation; lets a fixed query vector be
    inlined as literals instead of re-deriving per row."""
    import hashlib

    h = hashlib.md5(f"{seed}|{term}".encode()).hexdigest()
    return int(h[:7], 16) % dim, 1 if int(h[7], 16) % 2 == 0 else -1


def query_bucket_weights(query_terms: list[str], dim: int = 64,
                         seed: str = "hbow") -> dict[int, int]:
    """Signed hashing-trick query vector as a sparse {bucket: weight}
    dict (collisions between query terms sum, exactly as the doc side
    sums signed tokens per bucket)."""
    q: dict[int, int] = {}
    for t in query_terms:
        b, s = hashed_sign_bucket(t, dim, seed)
        q[b] = q.get(b, 0) + s
    return {b: w for b, w in sorted(q.items()) if w != 0}


def hashed_dot_topk(docs: DataFrame, query_terms: list[str], k: int = 50,
                    dim: int = 64, id_col: str = "doc_id",
                    text_col: str = "text",
                    seed: str = "hbow") -> DataFrame:
    """Integer inner-product retrieval (MIPS) against the hashing-trick
    query vector: dot(q, d) = Σ_tokens sign(token) · q_weight[bucket
    (token)] — an exact integer, no normalization, no floats. Only
    tokens landing in the query's ≤ |terms| nonzero buckets contribute,
    so the filter runs BEFORE the one per-doc aggregate and shuffle
    volume is matching tokens collapsed to #docs rows. Top-k by (dot
    desc, id) is a TakeOrdered — no global sort. Returns (id, dot)."""
    from hops_spark.ops.text import words

    q = query_bucket_weights(query_terms, dim, seed)
    tok = docs.select(F.col(id_col), F.explode(words(text_col)).alias("w"))
    bucket, sign = signed_bucket_cols(F.col("w"), dim, seed)
    qw = query_weight_col(bucket, q)
    scored = (tok.select(F.col(id_col), (sign * qw).alias("c"))
                 .filter(F.col("c") != 0)
                 .groupBy(id_col)
                 .agg(F.sum("c").cast("long").alias("dot")))
    return scored.orderBy(F.col("dot").desc(), F.col(id_col)).limit(k)


def ranked_bounded(df: DataFrame, score_col: str,
                   id_col: str = "doc_id",
                   rank_col: str = "rank") -> DataFrame:
    """1-based dense ranks of a BOUNDED list (top-k output, ≤ dozens of
    rows) WITHOUT a single-partition window: rank(x) = 1 + count of
    rows ordered strictly before x under (score desc, id asc) — an
    O(k²) self-join on a k-row frame, engine-portable and lint-clean
    by construction. Do not point this at unbounded data."""
    a, b = df.alias("_ra"), df.alias("_rb")
    sa, sb = F.col(f"_ra.{score_col}"), F.col(f"_rb.{score_col}")
    ia, ib = F.col(f"_ra.{id_col}"), F.col(f"_rb.{id_col}")
    before = (sb > sa) | ((sb == sa) & (ib < ia))
    return (a.join(b, before, "left")
             .groupBy(ia.alias(id_col), sa.alias(score_col))
             .agg((F.count(ib) + 1).cast("long").alias(rank_col)))


def hybrid_candidate_lists(docs: DataFrame, query_terms: list[str],
                           k: int = 50, dim: int = 64, k1: float = K1,
                           b: float = B, id_col: str = "doc_id",
                           text_col: str = "text",
                           seed: str = "hbow") -> tuple[DataFrame,
                                                        DataFrame]:
    """Both RRF candidate lists — BM25 top-k and hashed-dot top-k —
    from ONE exploded-token pass (guide §2.4: two consumers keyed the
    same way share one aggregate). The separate routes each ran their
    own corpus explode, and the dense list's un-cached aggregate was
    re-derived per downstream reference (9 parquet scans measured in
    the hybrid_rrf_retrieval plan); here a single per-doc aggregate
    carries dl, every query-term tf, the signed-hash dot and the
    matching-token count, and is cached (#docs rows) for all
    consumers.

    Exactness: the BM25 face reads the identical (dl, tf_i) columns
    and scores through the shared _bm25_score_cols expression; the
    dense face's integer dot gains only zero-contribution tokens
    (sum unchanged), and ``n_dot_match > 0`` reproduces the original
    pre-aggregate ``c != 0`` membership filter, so both lists are
    row-identical to the separate routes."""
    q = query_bucket_weights(query_terms, dim, seed)
    toks = docs.select(F.col(id_col),
                       F.explode(words(text_col)).alias("term"))
    bucket, sign = signed_bucket_cols(F.col("term"), dim, seed)
    qw = query_weight_col(bucket, q)
    tf_cols = [F.sum((F.col("term") == t).cast("long")).alias(f"tf_{i}")
               for i, t in enumerate(query_terms)]
    # intentionally session-lived, like bm25_scores' per_doc cache: the
    # two returned lists are lazy, so there is no safe point inside
    # this function to unpersist; the cache is one #docs-row aggregate
    # and Spark's cache manager evicts it LRU under memory pressure
    # (ADVICE r12 low #1 — documented rather than unpersisted).
    per_doc = (toks.withColumn("_c", sign * qw)
                   .groupBy(id_col)
                   .agg(F.count("*").alias("dl"), *tf_cols,
                        F.sum("_c").cast("long").alias("dot"),
                        F.sum((F.col("_c") != 0).cast("long"))
                         .alias("n_dot_match"))
                   .cache())
    df_cols = [F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
               for i in range(len(query_terms))]
    stats = per_doc.agg(F.count("*").cast("double").alias("n_docs"),
                        F.avg("dl").alias("avgdl"), *df_cols)
    score, n_matched = _bm25_score_cols(len(query_terms), k1, b)
    lex = (per_doc.crossJoin(F.broadcast(stats))
                  .filter(n_matched > 0)
                  .select(F.col(id_col),
                          n_matched.cast("long").alias("n_terms_matched"),
                          F.round(score, 6).alias("bm25"))
                  .orderBy(F.col("bm25").desc(), F.col(id_col))
                  .limit(k))
    dense = (per_doc.filter(F.col("n_dot_match") > 0)
                    .select(F.col(id_col), F.col("dot"))
                    .orderBy(F.col("dot").desc(), F.col(id_col))
                    .limit(k))
    return lex, dense


def rrf_fuse(lex_topk: DataFrame, dense_topk: DataFrame,
             lex_score: str = "bm25", dense_score: str = "dot",
             id_col: str = "doc_id", k_rrf: int = 60,
             topk: int = 15) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of a
    lexical and a dense candidate list: rrf(d) = Σ_lists 1/(k + rank_
    list(d)), here in exact integer ppm (1000000 div (k + rank), 0 for
    a doc absent from a list — the standard treatment). Both inputs
    are bounded top-k lists, so ranking and fusion touch O(k²) rows
    total no matter the corpus size. Returns (id, r_lex, r_dense,
    rrf_ppm) top-``topk`` by (rrf desc, id)."""
    lr = ranked_bounded(lex_topk, lex_score, id_col, "r_lex")
    dr = ranked_bounded(dense_topk, dense_score, id_col, "r_dense")
    fused = (lr.select(id_col, "r_lex")
               .join(dr.select(id_col, "r_dense"), id_col, "full"))
    contrib = (F.coalesce(F.expr(f"1000000 div ({k_rrf} + r_lex)"), F.lit(0))
               + F.coalesce(F.expr(f"1000000 div ({k_rrf} + r_dense)"),
                            F.lit(0)))
    return (fused.select(id_col,
                         F.coalesce("r_lex", F.lit(0)).alias("r_lex"),
                         F.coalesce("r_dense", F.lit(0)).alias("r_dense"),
                         contrib.cast("long").alias("rrf_ppm"))
                 .orderBy(F.col("rrf_ppm").desc(), F.col(id_col))
                 .limit(topk))


def positional_postings(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(term, id, pos): the positional-postings inverted index rows,
    1-based positions (the same coordinate system phrase_occurrences'
    array offsets use). One explode — at serving scale this is the
    PRE-BUILT index table (partitioned/bucketed by term); deriving it
    inline here keeps the query self-contained."""
    from hops_spark.ops.text import words

    return docs.select(
        F.col(id_col),
        F.posexplode(words(text_col)).alias("pos0", "term")
    ).select("term", id_col, (F.col("pos0") + 1).cast("long").alias("pos"))


def phrase_occurrences_indexed(docs: DataFrame, phrase: list[str],
                               id_col: str = "doc_id",
                               text_col: str = "text") -> DataFrame:
    """Exact phrase search through the positional-postings index — the
    classic posting-list intersection (Manning, Raghavan & Schütze
    IR ch.2): term j's postings join term 0's on (doc, pos + j), so a
    phrase start survives iff every term appears at its offset.
    Complements the map-only scan (phrase_occurrences): the scan reads
    EVERY document once; the index route touches only the phrase
    terms' postings — at corpus scale with a prebuilt index that is
    orders of magnitude less IO for rare phrases, and every join is a
    keyed equi-join on (doc, adjusted pos) (AQE broadcasts the rarest
    term's postings when small). Returns the identical (id, n_occ,
    first_pos) contract, asserted equal to the scan in tests."""
    post = positional_postings(docs, id_col, text_col)
    starts = (post.filter(F.col("term") == phrase[0])
                  .select(id_col, "pos"))
    for j, t in enumerate(phrase[1:], start=1):
        pj = (post.filter(F.col("term") == t)
                  .select(F.col(id_col), (F.col("pos") - j).alias("pos")))
        starts = starts.join(pj, [id_col, "pos"], "left_semi")
    return (starts.groupBy(id_col)
                  .agg(F.count("*").cast("long").alias("n_occ"),
                       F.min("pos").cast("long").alias("first_pos")))


# --- late-interaction (MaxSim) retrieval --------------------------------


MSIM_DIM = 16


def _msim_grams(t):
    n_grams = F.greatest(F.length(t) - 2, F.lit(1))
    return F.transform(F.sequence(F.lit(1), n_grams),
                       lambda i: F.substring(t, i, 3))


def term_vectors(terms: DataFrame, term_col: str = "term",
                 dim: int = MSIM_DIM, seed: str = "msim") -> DataFrame:
    """(term, v): unit-norm per-TERM embedding from signed feature
    hashing of the term's character 3-grams (terms shorter than 3
    chars contribute the whole term as one gram) — the
    hashed_bow_embedding derivation at TERM granularity, so
    orthographically close terms get close vectors with zero model
    weights. Same explode→(term, bucket) aggregate→map-assemble shape
    (a first draft folded the buckets per-row through nested
    higher-order lambdas: 16 s of codegen/eval at sf0.01 vs ~1 s for
    this aggregate form). Deterministic (md5), mirrored gram-for-gram
    by the DuckDB oracle."""
    # two selects: alias THEN explode — referencing the freshly aliased
    # column inside the same select trips Spark's lateral-alias
    # resolution (INTERNAL_ERROR LateralColumnAliasReference)
    t0 = terms.select(F.col(term_col).alias("term"))
    g = t0.select("term", F.explode(_msim_grams(F.col("term"))).alias("g"))
    h = F.md5(F.concat_ws("|", F.lit(seed), F.col("g")))
    bucket = F.pmod(F.conv(F.substring(h, 1, 7), 16, 10).cast("long"),
                    F.lit(dim))
    sign = F.when(F.conv(F.substring(h, 8, 1), 16, 10).cast("long") % 2 == 0,
                  F.lit(1.0)).otherwise(F.lit(-1.0))
    cells = (g.select("term", bucket.alias("b"), sign.alias("s"))
              .groupBy("term", "b")
              .agg(F.sum("s").cast("double").alias("v")))
    m = (cells.groupBy("term")
              .agg(F.map_from_entries(F.collect_list(F.struct("b", "v")))
                    .alias("m")))
    dense = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda j: F.coalesce(F.element_at(
                            F.col("m"), j.cast("long")), F.lit(0.0)))
    norm = F.sqrt(F.aggregate(dense, F.lit(0.0),
                              lambda acc, x: acc + x * x))
    unit = F.when(norm == 0.0, dense).otherwise(
        F.transform(dense, lambda x: x / norm))
    return m.select("term", unit.alias("v"))


def _py_term_vector(term: str, dim: int = MSIM_DIM,
                    seed: str = "msim") -> list[float] | None:
    """Driver-side twin of ``term_vectors`` for ONE literal term — the
    same md5 gram hashing, ±1.0 bucket sums, and left-to-right norm
    fold in IEEE doubles, so the unit vector is bit-identical to the
    Column derivation on the same term (pinned by
    tests/test_round13_fixes.py::test_py_term_vector_bit_identical).
    Returns None for a zero-norm vector (every gram's signs cancel in
    every bucket) — the caller drops it exactly like the ``nonzero``
    filter drops the Column-side row.

    Why it exists (r13 continuation, guide §1.2 "don't distribute
    driver-metadata-sized work"): the QUERY side of MaxSim is a
    handful of literal terms; deriving their vectors through the
    corpus-side term_vectors subplan (gram explode → two aggregates →
    map assembly → join) costs two extra AQE jobs and a broadcast per
    run to compute ~3 small constant vectors."""
    import hashlib

    n_grams = max(len(term) - 2, 1)
    cells: dict[int, float] = {}
    for i in range(n_grams):
        g = term[i:i + 3]
        h = hashlib.md5(f"{seed}|{g}".encode("utf-8")).hexdigest()
        b = int(h[:7], 16) % dim
        s = 1.0 if int(h[7], 16) % 2 == 0 else -1.0
        cells[b] = cells.get(b, 0.0) + s
    dense = [cells.get(j, 0.0) for j in range(dim)]
    acc = 0.0
    for x in dense:
        acc += x * x
    import math
    nrm = math.sqrt(acc)
    if nrm == 0.0:
        return None
    return [x / nrm for x in dense]


def maxsim_topk(docs: DataFrame, query_terms: list[str], k: int = 15,
                dim: int = MSIM_DIM, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Late-interaction retrieval, the ColBERT scoring rule (Khattab &
    Zaharia 2020): score(doc) = Σ_q max_{t ∈ doc} cos(v_q, v_t) — each
    query term finds its best-matching document term independently,
    which is what makes late interaction beat single-vector retrieval
    on multi-aspect queries. Here term vectors are the deterministic
    char-3-gram hashing embeddings (term_hash_vec); an external
    model's token embeddings drop into the same plan unchanged.

    Plan (the 100 TB shape): one distinct (doc, term) aggregate — the
    postings vocabulary, NOT the token stream — term vectors computed
    map-side, per-query-term cosines attached to the VOCABULARY table
    as plan-time-literal-query columns (r13 continuation: the query
    vectors are driver-side metadata — _py_term_vector is the
    bit-identical twin of the Column derivation — so the cosine is
    computed once per distinct term, not once per (doc, term, qterm)
    pair, and the former broadcast cross join + (doc, qterm) max
    aggregate collapse into ONE per-doc aggregate), per-term maxes
    summed in FIXED query order (the bm25 float-determinism
    discipline), TakeOrdered top-k. A real deployment prunes
    candidates with the inverted index first (phrase/bm25 machinery)
    and MaxSims only the shortlist."""
    from hops_spark.ops.litfast import lit_array
    from hops_spark.ops.similarity import _py_fold_norm, cosine_pre, norm
    from hops_spark.ops.text import words

    # query vectors first: pure driver-side work, so an empty or
    # all-zero-norm query list returns before any corpus job runs
    qvecs = [(i, u) for i, u in
             ((i, _py_term_vector(t, dim)) for i, t in
              enumerate(query_terms))
             if u is not None]
    if not qvecs:     # every query term hashed to the zero vector —
        # same empty result (and schema) the cross-join shape produced
        return (docs.select(F.col(id_col))
                    .limit(0)
                    .withColumn("maxsim", F.lit(0.0)))
    dterms = (docs.select(F.col(id_col), F.explode(words(text_col))
                           .alias("term"))
                  .distinct()
                  .localCheckpoint(eager=True))
    # zero-norm guard: a term whose gram signs cancel in every bucket
    # hashes to the zero vector (first seen at the sf1 fixture scale)
    # and has no defined cosine — dropped on BOTH engines symmetrically
    # (query side: _py_term_vector returns None for the same terms)
    nonzero = F.aggregate(F.col("v"), F.lit(0.0),
                          lambda a, x: a + x * x) > 0
    # term-vector norm computed once per DISTINCT term (it rode on the
    # (doc, term) rows before — same fold, same doubles, fewer rows)
    tv = (term_vectors(dterms.select("term").distinct(), "term", dim)
          .filter(nonzero)
          .withColumn("_ntv", norm(F.col("v"))))
    # round(dot/(norms), 6) per (term, query term) — the identical
    # cosine_pre expression the pair projection evaluated, now with
    # the query side a literal; values are unchanged bit for bit. One
    # select: a withColumn per term re-analyzes the growing projection
    tv = tv.select("term", *[F.round(
        cosine_pre(F.col("v"), lit_array(u, "double"),
                   F.col("_ntv"), F.lit(_py_fold_norm(u))), 6)
        .alias(f"_c{i}") for i, u in qvecs])
    sims = dterms.join(tv, "term")
    piv = sims.groupBy(id_col).agg(
        *[F.max(f"_c{i}").alias(f"c{i}") for i, _ in qvecs])
    have = {i for i, _ in qvecs}
    score = None
    for i in range(len(query_terms)):
        c = (F.coalesce(F.col(f"c{i}"), F.lit(0.0)) if i in have
             else F.lit(0.0))
        score = c if score is None else score + c
    return (piv.select(F.col(id_col), F.round(score, 6).alias("maxsim"))
               .orderBy(F.col("maxsim").desc(), id_col)
               .limit(k))


def maxsim_rerank(docs: DataFrame, query_terms: list[str],
                  shortlist_k: int = 50, k: int = 10,
                  dim: int = MSIM_DIM, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Retrieve-then-rerank cascade — the production two-stage shape
    (Nogueira & Cho 2019's BERT reranker pipeline; ColBERT §5 uses the
    same recall-stage-then-MaxSim split): a CHEAP high-recall stage
    (BM25 over the postings) retrieves ``shortlist_k`` candidates,
    then the EXPENSIVE scoring model (late-interaction MaxSim here; a
    cross-encoder drops into the same slot) scores only the bounded
    shortlist. Returns (id, lex_rank, bm25, maxsim) top-``k`` by the
    reranker's score.

    100 TB shape: stage 1 is the corpus-scale work (one postings
    aggregate with the query-term filter pushed before the shuffle);
    stage 2 touches ``shortlist_k`` docs REGARDLESS of corpus size —
    the semi join broadcasts the k-row shortlist, so the rerank cost
    is constant and the expensive model never sees the token stream.
    lex_rank is the join-count rank over the bounded list (no
    single-partition window), kept so rank MOVEMENT (recall-stage rank
    vs final rank) is auditable — the number a relevance engineer
    actually tunes against."""
    # materialize the shortlist: it is shortlist_k rows but its
    # lineage is the corpus-scale BM25 aggregate, and FOUR consumers
    # re-derive it otherwise (both ranked_bounded self-join sides, the
    # semi-join filter, the final lexr join) — the mixture checkpoint
    # lesson (SCALE.md 109) applied at birth
    lex = bm25_topk(docs, query_terms, shortlist_k, id_col=id_col,
                    text_col=text_col).localCheckpoint(eager=True)
    lexr = ranked_bounded(lex, "bm25", id_col, "lex_rank")
    cand = docs.join(F.broadcast(lex.select(id_col)), id_col, "semi")
    rr = maxsim_topk(cand, query_terms, k, dim, id_col, text_col)
    return (rr.join(F.broadcast(lexr), id_col)
              .select(id_col, "lex_rank", F.col("bm25"), F.col("maxsim"))
              .orderBy(F.col("maxsim").desc(), F.col(id_col)))

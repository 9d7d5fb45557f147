"""Retrieval inventory queries: inverted-index/BM25 ranking over the
``documents`` table (the classic MapReduce indexing demo family,
re-expressed as DataFrame aggregates — see ops/retrieval.py).

Oracle-determinism notes: every float literal is interpolated from the
SAME Python value Spark embeds (repr round-trips the double; ``::DOUBLE``
stops DuckDB parsing it as DECIMAL), the arithmetic mirrors Spark's
left-to-right association, and per-term contributions are added in fixed
query order on both sides — no partition-order float folding anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hops_spark.io.readers import load_table
from hops_spark.ops import retrieval as R
from hops_spark.ops.sketch import HLL_HASH_BITS, KMV_DOMAIN
from hops_spark.ops.text import bound_words
from hops_spark.queries.textops import _DUCK_WORDS
from hops_spark.registry import register

QUERY_TERMS = ["spark", "merge", "vector"]
TOP_K = 15


def _duck_bm25_sql(terms: list[str], k: int) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    k1p1 = f"{R.K1 + 1!r}::DOUBLE"
    k1 = f"{R.K1!r}::DOUBLE"
    one_minus_b = f"{1 - R.B!r}::DOUBLE"
    b = f"{R.B!r}::DOUBLE"
    piv = ",\n           ".join(
        f"max(CASE WHEN term = '{t}' THEN c END) AS c{i}"
        for i, t in enumerate(terms))
    n_matched = " + ".join(
        f"(CASE WHEN c{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(len(terms)))
    score = " + ".join(f"coalesce(c{i}, 0.0)" for i in range(len(terms)))
    return f"""
    WITH w AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), dl AS (
        -- non-empty docs only: the engine's one-pass aggregate sees a
        -- doc iff it has >= 1 token (empty docs can't match a query;
        -- they are excluded from n_docs/avgdl by definition here)
        SELECT doc_id, len(w)::BIGINT AS dl FROM w WHERE len(w) > 0
    ), stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
    ), tf AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(w) AS term FROM w)
        WHERE term IN ({in_list})
        GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
    ), contrib AS (
        SELECT t.doc_id, t.term,
               ((ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * t.tf)
                * {k1p1})
               / (t.tf + {k1} * ({one_minus_b} + {b} * l.dl / s.avgdl)) AS c
        FROM tf t
        JOIN dfreq d USING (term)
        JOIN dl l USING (doc_id), stats s
    ), piv AS (
        SELECT doc_id,
           {piv}
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id,
           ({n_matched})::BIGINT AS n_terms_matched,
           round({score}, 6) AS bm25
    FROM piv
    ORDER BY bm25 DESC, doc_id
    LIMIT {k}
    """


@register(
    "bm25_topk",
    sql=_duck_bm25_sql(QUERY_TERMS, TOP_K),
    doc="BM25 ranked retrieval (inverted-index family): doc lengths + "
        "query-term postings as two map-side-combined aggregates, df/idf "
        "broadcast, fixed-order per-term score sum (float-deterministic "
        "across engines). Query-term filter runs BEFORE the postings "
        "shuffle — only matching tokens move.",
    tags=("retrieval", "text", "north-star"),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (R.bm25_topk(d, QUERY_TERMS, TOP_K)
             .orderBy(F.col("bm25").desc(), F.col("doc_id")))


@register(
    "word_cooccurrence",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), prs AS (
        SELECT least(w[i.i], w[i.i + d.d]) AS word_a,
               greatest(w[i.i], w[i.i + d.d]) AS word_b
        FROM wt,
             LATERAL (SELECT unnest(range(1, len(w))) AS i) i,
             LATERAL (SELECT unnest(range(1, least(2, len(w) - i.i) + 1)) AS d) d
        WHERE len(w) >= 2
    ), cnt AS (
        SELECT word_a, word_b, count(*) AS n_cooc FROM prs GROUP BY word_a, word_b
    ), uni AS (
        SELECT word, count(*) AS c
        FROM (SELECT unnest(w) AS word FROM wt) GROUP BY word
    )
    SELECT c.word_a, c.word_b, c.n_cooc,
           (c.n_cooc * 1000000) // least(ua.c, ub.c) AS affinity_ppm
    FROM cnt c
    JOIN uni ua ON ua.word = c.word_a
    JOIN uni ub ON ub.word = c.word_b
    ORDER BY n_cooc DESC, word_a, word_b
    LIMIT 20
    """.replace("{DW}", _DUCK_WORDS),
    doc="Word co-occurrence top-k (the canonical MapReduce 'pairs' "
        "design pattern, Lin & Dyer ch.3): array-side pair generation "
        "(map-only), one pair-count aggregate + broadcast unigram "
        "counts; overlap-coefficient affinity in exact integer ppm.",
    tags=("retrieval", "text"),
)
def word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return R.cooccurrence_topk(d, window=2, k=20)


@register(
    "ngram_lm_counts",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), bg AS (
        SELECT w[i.i] AS w1, w[i.i + 1] AS w2
        FROM wt, LATERAL (SELECT unnest(range(1, len(w))) AS i) i
        WHERE len(w) >= 2
    ), cnt AS (
        SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
    ), cont AS (
        SELECT w2, count(*) AS n_cont FROM cnt GROUP BY w2
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total FROM cnt
    )
    SELECT c.w1, c.w2, c.n, co.n_cont,
           (4 * c.n - 3) * 1000000 // (4 * t.total) AS pkn_num_ppm
    FROM cnt c JOIN cont co USING (w2), tot t
    ORDER BY c.n DESC, c.w1, c.w2
    LIMIT 50
    """.replace("{DW}", _DUCK_WORDS),
    doc="Language-model count tables (the KenLM-style corpus job): "
        "bigram counts via map-only adjacent-pair emit + one aggregate; "
        "continuation counts (distinct left contexts, the Kneser-Ney "
        "numerator base) from the count table itself; discounted "
        "numerator (n - 0.75)/total as exact integer ppm ((4n-3)/4T).",
    tags=("retrieval", "text", "north-star"),
)
def ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import ngram_rows
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cnt = (ngram_rows(d, 2)
           .groupBy("w1", "w2").agg(F.count("*").alias("n"))
           # consumed 3x (cont, tot, final join) and Catalyst does not
           # unify the subtrees — cache the count table rather than
           # re-aggregate the corpus per consumer (the table is
           # bigram-vocab-bounded, orders smaller than the token
           # stream; the standard LM count-table contract).
           .cache())
    cont = cnt.groupBy("w2").agg(F.count("*").alias("n_cont"))
    tot = cnt.agg(F.sum("n").alias("total"))
    return (cnt.join(F.broadcast(cont), "w2")
               .crossJoin(F.broadcast(tot))
               .withColumn("pkn_num_ppm",
                           F.expr("(4 * n - 3) * 1000000 div (4 * total)"))
               .select("w1", "w2", "n", "n_cont", "pkn_num_ppm")
               .orderBy(F.col("n").desc(), "w1", "w2")
               .limit(50))


@register(
    "feature_hashing",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), toks AS (
        SELECT doc_id, unnest(w) AS term FROM wt
    ), hashed AS (
        SELECT doc_id,
               ('0x' || substring(md5(term), 1, 7))::BIGINT % 64 AS bucket
        FROM toks
    )
    SELECT doc_id, bucket, count(*) AS n
    FROM hashed GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """.replace("{DW}", _DUCK_WORDS),
    doc="Feature hashing (the hashing-trick vectorizer, public: "
        "Weinberger et al. 2009): tokens hashed into 64 buckets "
        "(md5-based, engine-reproducible), per-doc sparse count vector "
        "as (doc, bucket, n) rows — map-only emit + one aggregate; "
        "vocabulary never materializes (the point of the trick at "
        "100 TB: no dictionary build, no broadcast).",
    tags=("retrieval", "text", "north-star"),
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import words
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.explode(words("text")).alias("term"))
    bucket = F.pmod(F.conv(F.substring(F.md5("term"), 1, 7), 16, 10)
                     .cast("long"), F.lit(64))
    return (toks.select("doc_id", bucket.alias("bucket"))
                .groupBy("doc_id", "bucket").agg(F.count("*").alias("n"))
                .orderBy("doc_id", "bucket"))


@register(
    "tfidf_doc_pairs",
    sql=f"""
    WITH d AS (
        SELECT doc_id, text FROM documents
        WHERE (('0x' || substring(md5('tfidf|' || CAST(doc_id AS VARCHAR)),
                                  1, 7))::BIGINT % 1000000) < 100000
    ), wt AS (
        SELECT doc_id, {{DW}} AS w FROM d
    ), toks AS (
        SELECT doc_id, unnest(w) AS term FROM wt
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), nd AS (
        SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf
    ), dfs AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
        HAVING count(*) >= 2 AND count(*) <= 10000
    ), post AS (
        SELECT tf.doc_id, tf.term,
               CAST(round(tf.tf * ln(nd.n_docs / CAST(dfs.df AS DOUBLE))
                          * 1000, 0) AS BIGINT) AS w_milli
        FROM tf JOIN dfs USING (term) CROSS JOIN nd
    ), norms AS (
        SELECT doc_id, CAST(sum(w_milli * w_milli) AS BIGINT) AS n2
        FROM post GROUP BY doc_id
    ), dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(sum(a.w_milli * b.w_milli) AS BIGINT) AS dot
        FROM post a JOIN post b
          ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.id_a, d.id_b,
           CAST(round(d.dot * 1000000 / (sqrt(na.n2) * sqrt(nb.n2)), 0)
                AS BIGINT) AS cosine_ppm
    FROM dots d
    JOIN norms na ON d.id_a = na.doc_id
    JOIN norms nb ON d.id_b = nb.doc_id
    ORDER BY cosine_ppm DESC, id_a, id_b
    LIMIT 20
    """.replace("{DW}", _DUCK_WORDS),
    doc="TF-IDF cosine top-k document pairs (sparse lexical similarity; "
        "the vector-space-model sibling of the minhash/embedding dedup "
        "family). Integer-milli weights -> order-free integer dot/norm "
        "sums; one postings self-join bounded by the df cap (Sum df^2); "
        "the 10% hash-sample is the fixture's pair-volume control, not "
        "part of the operator.",
    tags=("retrieval", "text", "north-star"),
)
def tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sampling import hash_sample
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = hash_sample(d, "doc_id", 100_000, salt="tfidf")
    return R.tfidf_cosine_topk(d, k=20, min_df=2, max_df=10_000)


@register(
    "doc_perplexity",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), bg AS (
        SELECT doc_id, w[i.i] AS w1, w[i.i + 1] AS w2
        FROM wt, LATERAL (SELECT unnest(range(1, len(w))) AS i) i
        WHERE len(w) >= 2
    ), cnt AS (
        SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
    ), ctx AS (
        SELECT w1, CAST(sum(n) AS BIGINT) AS n_ctx FROM cnt GROUP BY w1
    ), v AS (
        SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM cnt
    ), sc AS (
        SELECT c.w1, c.w2,
               CAST(round(-ln((c.n + 1) / CAST(x.n_ctx + v.v AS DOUBLE))
                          * 1000000, 0) AS BIGINT) AS nlp_micro
        FROM cnt c JOIN ctx x USING (w1) CROSS JOIN v
    )
    SELECT b.doc_id, count(*) AS n_bigrams,
           CAST(sum(s.nlp_micro) AS BIGINT) AS nll_micro,
           CAST(sum(s.nlp_micro) AS BIGINT) // count(*) AS avg_nll_micro
    FROM bg b JOIN sc s ON b.w1 = s.w1 AND b.w2 = s.w2
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """.replace("{DW}", _DUCK_WORDS),
    doc="Per-document bigram-LM negative log-likelihood (the CCNet-style "
        "perplexity quality gate, Wenzek et al. 2020): corpus add-one "
        "bigram LM from one count-table job, per-bigram -ln P snapped to "
        "integer micro-nats BEFORE the per-doc sum (order-free integer "
        "aggregate -> engine-exact). ops/lm.py.",
    tags=("retrieval", "text", "north-star"),
)
def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import doc_nll_scores
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return doc_nll_scores(d).orderBy("doc_id")


@register(
    "cms_heavy_hitters",
    sql=f"""
    WITH toks AS (
        SELECT unnest({{DW}}) AS term FROM documents
    ), rows_ AS (
        SELECT unnest([0, 1, 2, 3]) AS r
    ), cells AS (
        SELECT r,
               ('0x' || substring(md5(CAST(r AS VARCHAR) || '|' || term),
                                  1, 7))::BIGINT % 256 AS bucket,
               CAST(count(*) AS BIGINT) AS c
        FROM toks CROSS JOIN rows_
        GROUP BY 1, 2
    ), exact AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n_exact FROM toks GROUP BY term
    ), tot AS (
        SELECT CAST(sum(n_exact) AS BIGINT) AS n_total FROM exact
    ), top AS (
        SELECT term, n_exact FROM exact ORDER BY n_exact DESC, term LIMIT 20
    ), est AS (
        SELECT t.term, t.n_exact, min(c.c) AS n_cms
        FROM top t CROSS JOIN rows_ rr
        JOIN cells c
          ON c.r = rr.r
         AND c.bucket = ('0x' || substring(md5(CAST(rr.r AS VARCHAR)
                                               || '|' || t.term),
                                           1, 7))::BIGINT % 256
        GROUP BY t.term, t.n_exact
    )
    SELECT term, n_exact, n_cms,
           n_cms >= n_exact AS never_underestimates,
           n_cms - n_exact <= (3 * (SELECT n_total FROM tot)) // 256
             AS within_eps
    FROM est
    ORDER BY n_exact DESC, term
    """.replace("{DW}", _DUCK_WORDS),
    doc="Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005): "
        "4x256 md5-hashed grid, map-side combine collapses each "
        "partition to <= 1024 rows pre-shuffle regardless of vocabulary; "
        "the oracle rebuilds the IDENTICAL sketch (not just the exact "
        "counts) and both CMS bounds are checked columns. ops/sketch.py.",
    tags=("retrieval", "text", "north-star", "approx"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sketch import heavy_hitters
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return heavy_hitters(d, k=20)


_KMV_K = 256


@register(
    "kmv_audience_overlap",
    # Oracle rebuilds BOTH sketches hash-for-hash (k smallest 52-bit
    # md5 values of each audience — 13 nibbles, domain 16**13 =
    # sketch.KMV_DOMAIN), merges, and applies the same floor
    # estimators — plus the exact union/intersection for the
    # self-verifying error columns. The estimator branch (n_kept == k)
    # only fires once >= k distinct union hashes exist (true at sf0.1+;
    # the sf0.001/0.01 fixtures take the exact n_kept < k path), so the
    # domain constant here MUST be interpolated from sketch.KMV_DOMAIN
    # — a mismatched literal is invisible at small sf (round-5 ADVICE).
    sql=f"""
    WITH a AS (
        SELECT DISTINCT ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                           1, 13))::BIGINT AS hv
        FROM events WHERE event_type = 'click'
    ), b AS (
        SELECT DISTINCT ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                           1, 13))::BIGINT AS hv
        FROM events WHERE event_type = 'view'
    ), sa AS (
        SELECT hv FROM a ORDER BY hv LIMIT {_KMV_K}
    ), sb AS (
        SELECT hv FROM b ORDER BY hv LIMIT {_KMV_K}
    ), u AS (
        SELECT COALESCE(sa.hv, sb.hv) AS hv,
               CASE WHEN sa.hv IS NOT NULL THEN 1 ELSE 0 END AS ina,
               CASE WHEN sb.hv IS NOT NULL THEN 1 ELSE 0 END AS inb
        FROM sa FULL JOIN sb ON sa.hv = sb.hv
    ), m AS (
        SELECT hv, ina, inb,
               row_number() OVER (ORDER BY hv) AS rk
        FROM u
    ), agg AS (
        SELECT count(*) AS n_kept,
               max(CASE WHEN rk = {_KMV_K} THEN hv END) AS kth,
               sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS n_both
        FROM m WHERE rk <= {_KMV_K}
    ), ex AS (
        SELECT
            (SELECT count(DISTINCT user_id) FROM events
             WHERE event_type IN ('click', 'view')) AS exact_union,
            (SELECT count(*) FROM
                (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
                 INTERSECT
                 SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
            ) AS exact_intersection
    )
    SELECT CAST(n_kept AS BIGINT) AS n_kept,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                     ELSE ({_KMV_K} - 1) * {KMV_DOMAIN} // kth END
                AS BIGINT) AS est_union,
           CAST(CASE WHEN n_kept < {_KMV_K} THEN n_both
                     ELSE n_both * (({_KMV_K} - 1) * {KMV_DOMAIN} // kth)
                          // {_KMV_K} END
                AS BIGINT) AS est_intersection,
           CAST(exact_union AS BIGINT) AS exact_union,
           CAST(exact_intersection AS BIGINT) AS exact_intersection
    FROM agg, ex
    """,
    doc="KMV/theta distinct sketch with SET OPERATIONS (Beyer et al. "
        "2007; the DataSketches theta family): per-audience k-minimum-"
        "value sketches over md5 hashes, merged for union and "
        "intersection estimates — mergeable O(k) state per group "
        "forever, the audience-overlap primitive exact distinct "
        "counting cannot give at 100 TB. Self-verifying: the exact "
        "union/intersection ride along — NOTE these two columns are "
        "FIXTURE-SCALE VERIFICATION RIDERS (two driver-side exact "
        "count() actions over the full key sets, affordable only at "
        "test scale); the production path is the O(k) sketch columns "
        "alone. ops/sketch.kmv_sketch/kmv_overlap_ppm; the <= 2k-row "
        "merge window is bounded by construction (lint-whitelisted "
        "with proof).",
    tags=("sketch", "agg", "north-star"),
)
def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sketch import kmv_overlap_ppm, kmv_sketch
    e = load_table(spark, sf_dir, "events")
    aud = lambda t: e.filter(F.col("event_type") == t) \
                     .select(F.lit(t).alias("g"), "user_id")  # noqa: E731
    sa = kmv_sketch(aud("click"), "g", "user_id", _KMV_K)
    sb = kmv_sketch(aud("view"), "g", "user_id", _KMV_K)
    est = kmv_overlap_ppm(sa, sb, _KMV_K)
    both = e.filter(F.col("event_type").isin("click", "view"))
    exact_u = both.select("user_id").distinct().count()
    exact_i = (e.filter(F.col("event_type") == "click").select("user_id")
                .intersect(e.filter(F.col("event_type") == "view")
                            .select("user_id")).count())
    return est.select("n_kept", "n_both", "est_union", "est_intersection",
                      F.lit(exact_u).cast("long").alias("exact_union"),
                      F.lit(exact_i).cast("long").alias("exact_intersection"))


_HBOW_DIM = 64


@register(
    "doc_hash_embed",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS w FROM documents
    ), hashed AS (
        SELECT doc_id,
               ('0x' || substring(md5('hbow|' || w), 1, 7))::BIGINT
                   % {_HBOW_DIM} AS b,
               CASE WHEN ('0x' || substring(md5('hbow|' || w), 8, 1))::BIGINT
                         % 2 = 0 THEN 1 ELSE -1 END AS s
        FROM tok
    ), cells AS (
        SELECT doc_id, b, CAST(sum(s) AS DOUBLE) AS v
        FROM hashed GROUP BY doc_id, b
    ), dense AS (
        SELECT c.doc_id, j.j, COALESCE(cells.v, 0.0) AS x
        FROM (SELECT DISTINCT doc_id FROM cells) c
        CROSS JOIN (SELECT unnest(range(0, {_HBOW_DIM})) AS j) j
        LEFT JOIN cells ON cells.doc_id = c.doc_id AND cells.b = j.j
    ), normed AS (
        SELECT doc_id, j,
               x / sqrt(sum(x * x) OVER (PARTITION BY doc_id)) AS u,
               x
        FROM dense
    )
    SELECT doc_id,
           CAST(count(CASE WHEN x <> 0 THEN 1 END) AS BIGINT) AS nnz,
           md5(string_agg(CAST(CAST(floor(u * 1000000) AS BIGINT)
                               AS VARCHAR), ',' ORDER BY j)) AS vec_digest
    FROM normed GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Feature-hashing document vectorizer (Weinberger et al. 2009; "
        "the sklearn HashingVectorizer contract): signed md5 token "
        "hashing into 64 buckets, L2-normalized — REAL text embeddings "
        "with no model weights, the drop-in plumbing for an external "
        "embedding model. The digest hashes every ppm-quantized "
        "component, so the oracle certifies the full vector per doc. "
        "ops/retrieval.hashed_bow_embedding; composes with the ANN "
        "serving index in tools/doc_index.py.",
    tags=("retrieval", "similarity", "north-star"),
)
def doc_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.retrieval import hashed_bow_embedding
    d = load_table(spark, sf_dir, "documents")
    emb = hashed_bow_embedding(d, _HBOW_DIM)
    nnz = F.size(F.filter("embedding", lambda x: x != 0.0)).cast("long")
    digest = F.md5(F.array_join(
        F.transform("embedding",
                    lambda x: F.floor(x * 1000000).cast("string")), ","))
    return (emb.select("doc_id", nnz.alias("nnz"),
                       digest.alias("vec_digest"))
               .orderBy("doc_id"))


@register(
    "hbow_knn",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS w FROM documents
    ), hashed AS (
        SELECT doc_id,
               ('0x' || substring(md5('hbow|' || w), 1, 7))::BIGINT
                   % {_HBOW_DIM} AS b,
               CASE WHEN ('0x' || substring(md5('hbow|' || w), 8, 1))::BIGINT
                         % 2 = 0 THEN 1 ELSE -1 END AS s
        FROM tok
    ), cells AS (
        SELECT doc_id, b, CAST(sum(s) AS DOUBLE) AS v
        FROM hashed GROUP BY doc_id, b
    ), dense AS (
        SELECT c.doc_id, j.j, COALESCE(cells.v, 0.0) AS x
        FROM (SELECT DISTINCT doc_id FROM cells) c
        CROSS JOIN (SELECT unnest(range(0, {_HBOW_DIM})) AS j) j
        LEFT JOIN cells ON cells.doc_id = c.doc_id AND cells.b = j.j
    ), vv AS (
        SELECT doc_id, list(x ORDER BY j) AS raw
        FROM dense GROUP BY doc_id
    ), unitv AS (
        SELECT doc_id,
               list_transform(raw, x -> x / sqrt(list_sum(
                   list_transform(raw, y -> y * y)))) AS v
        FROM vv
    ), q AS (
        SELECT doc_id AS q_id, v AS qv FROM unitv WHERE doc_id < 5
    ), scored AS (
        SELECT q.q_id, u.doc_id AS neighbor_id,
               round(list_cosine_similarity(u.v, q.qv), 6) AS cos_sim
        FROM unitv u CROSS JOIN q
        WHERE u.doc_id <> q.q_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, rnk
    FROM ranked WHERE rnk <= 5
    ORDER BY q_id, rnk
    """,
    doc="Document semantic search over REAL derived vectors: top-5 "
        "cosine neighbors in hashed-BoW embedding space for a 5-doc "
        "query panel — text in, ranked neighbors out, certified "
        "end-to-end (the oracle recomputes tokenization, signed "
        "hashing, normalization, and every cosine). The serving twin "
        "is tools/doc_index.py (same vectors through the SQ8 cell "
        "index).",
    tags=("retrieval", "similarity", "north-star"),
)
def hbow_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.retrieval import hashed_bow_embedding
    from hops_spark.ops.similarity import knn_bruteforce
    d = load_table(spark, sf_dir, "documents")
    emb = hashed_bow_embedding(d, _HBOW_DIM) \
        .withColumnRenamed("doc_id", "vec_id")
    queries = (emb.filter(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    return (knn_bruteforce(emb, queries, k=5)
            .select("q_id", "neighbor_id", "cos_sim", "rnk")
            .orderBy("q_id", "rnk"))


_HLL_P = 8   # 256 registers; hash domain 52 bits (13 md5 nibbles)


@register(
    "hll_event_distinct",
    sql=f"""
    WITH h AS (
        SELECT event_type AS grp,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                  1, 13))::BIGINT AS hv
        FROM events
    ), r AS (
        SELECT grp, hv % {1 << _HLL_P} AS reg,
               CASE WHEN (hv >> {_HLL_P}) = 0 THEN {HLL_HASH_BITS - _HLL_P + 1}
                    ELSE bit_count(((hv >> {_HLL_P}) & -(hv >> {_HLL_P}))
                                   - 1) + 1 END AS rho
        FROM h
    ), g AS (
        SELECT grp, reg, CAST(max(rho) AS BIGINT) AS rho
        FROM r GROUP BY grp, reg
    ), c AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_regs,
               CAST(sum(rho) AS BIGINT) AS sum_rho,
               CAST(sum(CAST(pow(2.0, {HLL_HASH_BITS + 1 - _HLL_P} - rho)
                             AS BIGINT)) AS BIGINT) AS harmonic_s
        FROM g GROUP BY grp
    ), e AS (
        SELECT event_type AS grp,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY event_type
    )
    SELECT c.grp, c.n_regs, c.sum_rho, c.harmonic_s, e.exact_distinct
    FROM c JOIN e USING (grp) ORDER BY grp
    """,
    doc="HyperLogLog-style register grid per event_type (Flajolet et "
        "al. 2007), the mergeable-grid contract's newest member "
        "(ops/sketch.hll_registers — a ~50-line addition on "
        "grid_merge): 2^p registers per group holding the max "
        "trailing-zero rank of the 52-bit md5 hash, O(m) state "
        "forever, merge = cell-wise max. The oracle replays the GRID "
        "arithmetic relationally (identical bit_count/shift integer "
        "expressions) and the census columns (registers used, rank "
        "sum, integer harmonic denominator) are hash-proven; the "
        "float alpha*m^2/S estimate is a driver-side step whose "
        "accuracy envelope is pytest-asserted "
        "(tests/test_sketch_contract.py). Exact distincts ride along "
        "as the self-verifying ground truth.",
    tags=("sketch", "agg", "north-star"),
)
def hll_event_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sketch import hll_census, hll_registers
    ev = load_table(spark, sf_dir, "events")
    grid = hll_registers(ev, "event_type", "user_id", _HLL_P)
    cen = hll_census(grid, _HLL_P)
    exact = (ev.groupBy(F.col("event_type").alias("grp"))
               .agg(F.countDistinct("user_id").cast("long")
                     .alias("exact_distinct")))
    return (cen.join(exact, "grp")
               .select("grp", F.col("n_regs").cast("long").alias("n_regs"),
                       "sum_rho", "harmonic_s", "exact_distinct")
               .orderBy("grp"))


_PHRASE = ["order", "fast"]   # present at every fixture SF


@register(
    "phrase_search",
    sql=f"""
    WITH b AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), hits AS (
        SELECT doc_id,
               CASE WHEN len(w) >= {len(_PHRASE)} THEN
                   list_filter(range(1, len(w) - {len(_PHRASE)} + 2),
                               i -> {" AND ".join(
                                   f"w[i + {j}] = '{t}'"
                                   for j, t in enumerate(_PHRASE))})
               ELSE [] END AS hs
        FROM b
    )
    SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_occ,
           CAST(hs[1] AS BIGINT) AS first_pos
    FROM hits WHERE len(hs) >= 1
    ORDER BY doc_id
    """,
    doc="Exact phrase search ('order fast') via positional "
        "matching — the positional-postings inverted-index extension, "
        "Spark-first as a MAP-ONLY array-side offset scan (no postings "
        "join, no shuffle; ops/retrieval.phrase_occurrences). Both "
        "engines test every 1-based start offset with the identical "
        "lambda, so occurrence counts and first positions hash-match.",
    tags=("retrieval", "text"),
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return R.phrase_occurrences(d, _PHRASE).orderBy("doc_id")


@register(
    "cms_join_size",
    sql=f"""
    WITH a AS (
        SELECT CAST(user_id AS VARCHAR) AS term FROM events
        WHERE event_type = 'click'
    ), b AS (
        SELECT CAST(user_id AS VARCHAR) AS term FROM events
        WHERE event_type = 'view'
    ), ga AS (
        SELECT t.r, ('0x' || substring(md5(CAST(t.r AS VARCHAR) || '|'
                                           || term), 1, 7))::BIGINT % 256
                   AS bucket,
               count(*) AS c
        FROM a, LATERAL (SELECT unnest(range(0, 4)) AS r) t
        GROUP BY 1, 2
    ), gb AS (
        SELECT t.r, ('0x' || substring(md5(CAST(t.r AS VARCHAR) || '|'
                                           || term), 1, 7))::BIGINT % 256
                   AS bucket,
               count(*) AS c
        FROM b, LATERAL (SELECT unnest(range(0, 4)) AS r) t
        GROUP BY 1, 2
    ), per_row AS (
        SELECT ga.r, sum(ga.c * gb.c) AS s
        FROM ga JOIN gb USING (r, bucket)
        GROUP BY ga.r
    ), est AS (
        SELECT CAST(min(s) AS BIGINT) AS est_join_size FROM per_row
    ), ex AS (
        SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS exact_join_size,
               CAST(coalesce(sum(na), 0) * coalesce(sum(nb), 0) AS BIGINT)
                   AS n_a_times_n_b
        FROM (SELECT term, count(*) AS na FROM a GROUP BY term) x
        JOIN (SELECT term, count(*) AS nb FROM b GROUP BY term) y
          USING (term),
        (SELECT 1)
    ), tot AS (
        SELECT (SELECT count(*) FROM a) * (SELECT count(*) FROM b) AS nn
    )
    SELECT est.est_join_size, ex.exact_join_size,
           CAST(est.est_join_size >= ex.exact_join_size AS BIGINT)
               AS never_underestimates,
           CAST((est.est_join_size - ex.exact_join_size)
                <= (3 * tot.nn) // 256 AS BIGINT) AS within_eps
    FROM est, ex, tot
    """,
    doc="JOIN-SIZE ESTIMATION from two count-min sketches (the AMS/CMS "
        "inner-product estimator, Cormode & Muthukrishnan 2005 §4.2): "
        "|clicks JOIN views ON user_id| estimated as min over hash "
        "rows of the grids' bucket-wise product sum — the query-"
        "optimizer primitive that sizes a join from two O(depth*width) "
        "summaries without touching either table. Self-verifying: the "
        "exact join cardinality rides along with the always-over "
        "and within-eps*N_a*N_b bound checks as hashed booleans "
        "(integer arithmetic throughout). ops/sketch.cms_inner_product.",
    tags=("sketch", "agg", "join", "north-star"),
)
def cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sketch import cms_cells, cms_inner_product
    e = load_table(spark, sf_dir, "events")
    term = F.col("user_id").cast("string").alias("term")
    a = e.filter(F.col("event_type") == "click").select(term)
    b = e.filter(F.col("event_type") == "view").select(term)
    est = cms_inner_product(cms_cells(a), cms_cells(b))
    exact = (a.groupBy("term").agg(F.count("*").alias("na"))
              .join(b.groupBy("term").agg(F.count("*").alias("nb")), "term")
              .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
                    .cast("long").alias("exact_join_size")))
    # the eps bound constant is stream-size metadata (two count
    # actions, same class of rider as the kmv exact columns)
    bound = 3 * a.count() * b.count() // 256
    return (est.crossJoin(F.broadcast(exact))
               .select("est_join_size", "exact_join_size",
                       (F.col("est_join_size") >= F.col("exact_join_size"))
                       .cast("long").alias("never_underestimates"),
                       ((F.col("est_join_size") - F.col("exact_join_size"))
                        <= F.lit(bound))
                       .cast("long").alias("within_eps")))


@register(
    "kmv_audience_difference",
    sql=f"""
    WITH a AS (
        SELECT DISTINCT ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                           1, 13))::BIGINT AS hv
        FROM events WHERE event_type = 'click'
    ), b AS (
        SELECT DISTINCT ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                           1, 13))::BIGINT AS hv
        FROM events WHERE event_type = 'view'
    ), sa AS (
        SELECT hv FROM a ORDER BY hv LIMIT {_KMV_K}
    ), sb AS (
        SELECT hv FROM b ORDER BY hv LIMIT {_KMV_K}
    ), u AS (
        SELECT COALESCE(sa.hv, sb.hv) AS hv,
               CASE WHEN sa.hv IS NOT NULL THEN 1 ELSE 0 END AS ina,
               CASE WHEN sb.hv IS NOT NULL THEN 1 ELSE 0 END AS inb
        FROM sa FULL JOIN sb ON sa.hv = sb.hv
    ), m AS (
        SELECT hv, ina, inb,
               row_number() OVER (ORDER BY hv) AS rk
        FROM u
    ), agg AS (
        SELECT count(*) AS n_kept,
               max(CASE WHEN rk = {_KMV_K} THEN hv END) AS kth,
               sum(CASE WHEN ina = 1 AND inb = 0 THEN 1 ELSE 0 END)
                   AS n_a_only
        FROM m WHERE rk <= {_KMV_K}
    ), ex AS (
        SELECT (SELECT count(*) FROM
                   (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'click'
                    EXCEPT
                    SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'view')
               ) AS exact_difference
    )
    SELECT CAST(n_kept AS BIGINT) AS n_kept,
           CAST(n_a_only AS BIGINT) AS n_a_only,
           CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                     ELSE ({_KMV_K} - 1) * {KMV_DOMAIN} // kth END
                AS BIGINT) AS est_union,
           CAST(CASE WHEN n_kept < {_KMV_K} THEN n_a_only
                     ELSE n_a_only * (({_KMV_K} - 1) * {KMV_DOMAIN} // kth)
                          // {_KMV_K} END
                AS BIGINT) AS est_difference,
           CAST(exact_difference AS BIGINT) AS exact_difference
    FROM agg, ex
    """,
    doc="KMV/theta set-DIFFERENCE estimate (clicks-not-views — the "
        "churn/exclusive-audience primitive; completes the theta set "
        "algebra alongside kmv_audience_overlap's union/intersection): "
        "|A \\\\ B| ~ est_union * (merged hashes in A only) / k over the "
        "52-bit md5 domain, overflow-safe floor arithmetic identical "
        "in both engines. The exact difference rides along as a "
        "FIXTURE-SCALE VERIFICATION RIDER (one driver-side count, "
        "outside the O(k) production path). "
        "ops/sketch.kmv_difference_ppm.",
    tags=("sketch", "agg", "north-star"),
)
def kmv_audience_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sketch import kmv_difference_ppm, kmv_sketch
    e = load_table(spark, sf_dir, "events")
    aud = lambda t: e.filter(F.col("event_type") == t) \
                     .select(F.lit(t).alias("g"), "user_id")  # noqa: E731
    sa = kmv_sketch(aud("click"), "g", "user_id", _KMV_K)
    sb = kmv_sketch(aud("view"), "g", "user_id", _KMV_K)
    est = kmv_difference_ppm(sa, sb, _KMV_K)
    exact = (e.filter(F.col("event_type") == "click").select("user_id")
              .distinct()
              .subtract(e.filter(F.col("event_type") == "view")
                         .select("user_id").distinct())
              .count())
    return est.select("n_kept", "n_a_only", "est_union", "est_difference",
                      F.lit(exact).cast("long").alias("exact_difference"))


_SSP_TOP = 10


@register(
    "skew_salt_plan",
    sql=f"""
    WITH s AS (
        SELECT CAST(user_id AS VARCHAR) AS term FROM events
        WHERE event_type = 'click'
    ), grid AS (
        SELECT t.r, ('0x' || substring(md5(CAST(t.r AS VARCHAR) || '|'
                                            || term), 1, 7))::BIGINT % 256
                   AS bucket,
               count(*) AS c
        FROM s, LATERAL (SELECT unnest(range(0, 4)) AS r) t
        GROUP BY 1, 2
    ), exact AS (
        SELECT term, count(*) AS n_exact FROM s GROUP BY term
    ), top AS (
        SELECT term, n_exact FROM exact
        ORDER BY n_exact DESC, term LIMIT {_SSP_TOP}
    ), probed AS (
        SELECT top.term, top.n_exact, min(grid.c) AS n_cms
        FROM top, LATERAL (SELECT unnest(range(0, 4)) AS r) t
        JOIN grid ON grid.r = t.r
                 AND grid.bucket = ('0x' || substring(md5(
                         CAST(t.r AS VARCHAR) || '|' || top.term),
                         1, 7))::BIGINT % 256
        GROUP BY top.term, top.n_exact
    ), kh AS (
        SELECT DISTINCT ('0x' || substring(md5(term), 1, 13))::BIGINT AS hv
        FROM s
    ), sk AS (
        SELECT hv, row_number() OVER (ORDER BY hv) AS rk FROM kh
    ), kagg AS (
        SELECT count(*) AS n_kept,
               max(CASE WHEN rk = 256 THEN hv END) AS kth
        FROM sk WHERE rk <= 256
    ), nd AS (
        SELECT CAST(CASE WHEN n_kept < 256 THEN n_kept
                         ELSE 255 * {KMV_DOMAIN} // kth END AS BIGINT)
                   AS nd_est
        FROM kagg
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS total FROM s
    )
    SELECT p.term,
           CAST(p.n_cms AS BIGINT) AS n_cms,
           CAST(p.n_exact AS BIGINT) AS n_exact,
           CAST(p.n_cms * 1000000 // t.total AS BIGINT) AS est_share_ppm,
           CAST(greatest(1, least(32,
                p.n_cms * n.nd_est // t.total)) AS BIGINT) AS salt_factor
    FROM probed p, nd n, tot t
    ORDER BY p.n_exact DESC, p.term
    """,
    doc="SKEW-SALTING PLAN FROM SKETCHES (the planning half of the "
        "salted-aggregation/skew-join defenses, ops/agg.salted_agg and "
        "ops/join's replicate-and-salt): candidate heavy keys are "
        "CMS-estimated (never-underestimating min-over-rows probe of "
        "the bounded grid), the key-space size is KMV-estimated, and "
        "each heavy key's salt factor = its estimated count over the "
        "average key's (clamped to [1, 32]) — the integer recipe a "
        "pre-shuffle planner derives from two O(grid) summaries "
        "WITHOUT a full exact count of anything (the exact counts "
        "here are fixture-scale verification riders). Both sketches "
        "replayed relationally by the oracle; candidate top-10 by "
        "exact count is the fixture's stand-in for per-partition "
        "candidate emission (heavy_hitters' documented contract).",
    tags=("sketch", "agg", "join", "north-star"),
)
def skew_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.sketch import (cms_cells, cms_estimates,
                                       kmv_estimate_ppm, kmv_sketch)
    e = load_table(spark, sf_dir, "events")
    s = (e.filter(F.col("event_type") == "click")
          .select(F.col("user_id").cast("string").alias("term")))
    grid = cms_cells(s)
    exact = s.groupBy("term").agg(F.count("*").alias("n_exact"))
    top = exact.orderBy(F.col("n_exact").desc(), "term").limit(_SSP_TOP)
    probed = cms_estimates(top, grid)
    nd = (kmv_estimate_ppm(
            kmv_sketch(s.select(F.lit("g").alias("g"), "term"),
                       "g", "term", 256), 256)
          .select(F.col("est_distinct").alias("nd_est")))
    total = s.count()
    return (probed.crossJoin(F.broadcast(nd))
            .select("term",
                    F.col("n_cms").cast("long").alias("n_cms"),
                    F.col("n_exact").cast("long").alias("n_exact"),
                    F.expr(f"CAST(n_cms * 1000000 div {total} AS BIGINT)")
                     .alias("est_share_ppm"),
                    F.expr(f"CAST(greatest(1, least(32, "
                           f"n_cms * nd_est div {total})) AS BIGINT)")
                     .alias("salt_factor"))
            .orderBy(F.col("n_exact").desc(), "term"))


@register(
    "audience_jaccard_matrix",
    sql=f"""
    WITH k AS (
        SELECT DISTINCT event_type AS grp,
               ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                  1, 13))::BIGINT AS hv
        FROM events
    ), sk AS (
        SELECT grp, hv FROM (
            SELECT grp, hv,
                   row_number() OVER (PARTITION BY grp ORDER BY hv) AS rk
            FROM k
        ) WHERE rk <= {_KMV_K}
    ), prs AS (
        SELECT a.grp AS ga, b.grp AS gb
        FROM (SELECT DISTINCT grp FROM sk) a
        JOIN (SELECT DISTINCT grp FROM sk) b ON a.grp < b.grp
    ), mem AS (
        SELECT p.ga, p.gb, s.hv,
               max(CASE WHEN s.grp = p.ga THEN 1 ELSE 0 END) AS ina,
               max(CASE WHEN s.grp = p.gb THEN 1 ELSE 0 END) AS inb
        FROM prs p JOIN sk s ON s.grp IN (p.ga, p.gb)
        GROUP BY p.ga, p.gb, s.hv
    ), rk AS (
        SELECT ga, gb, hv, ina, inb,
               row_number() OVER (PARTITION BY ga, gb ORDER BY hv) AS rk
        FROM mem
    ), agg AS (
        SELECT ga, gb, count(*) AS n_kept,
               max(CASE WHEN rk = {_KMV_K} THEN hv END) AS kth,
               sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
                   AS n_both
        FROM rk WHERE rk <= {_KMV_K}
        GROUP BY ga, gb
    ), est AS (
        SELECT ga, gb,
               CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                    ELSE ({_KMV_K} - 1) * {KMV_DOMAIN} // kth END
                    AS BIGINT) AS est_union,
               CAST(CASE WHEN n_kept < {_KMV_K} THEN n_both
                    ELSE n_both * (({_KMV_K} - 1) * {KMV_DOMAIN} // kth)
                         // {_KMV_K} END
                    AS BIGINT) AS est_intersection
        FROM agg
    ), du AS (
        SELECT DISTINCT event_type AS grp, user_id FROM events
    ), exact AS (
        SELECT a.grp AS ga, b.grp AS gb, count(*) AS exact_intersection
        FROM du a JOIN du b
          ON a.user_id = b.user_id AND a.grp < b.grp
        GROUP BY a.grp, b.grp
    ), sizes AS (
        SELECT grp, count(*) AS nd FROM du GROUP BY grp
    )
    SELECT e.ga, e.gb, e.est_union, e.est_intersection,
           CAST(e.est_intersection * 1000000 //
                greatest(e.est_union, 1) AS BIGINT) AS est_jaccard_ppm,
           CAST(coalesce(x.exact_intersection, 0) * 1000000 //
                (sa.nd + sb.nd - coalesce(x.exact_intersection, 0))
                AS BIGINT) AS exact_jaccard_ppm
    FROM est e
    LEFT JOIN exact x ON x.ga = e.ga AND x.gb = e.gb
    JOIN sizes sa ON sa.grp = e.ga
    JOIN sizes sb ON sb.grp = e.gb
    ORDER BY e.ga, e.gb
    """,
    doc="ALL-PAIRS audience Jaccard matrix from ONE KMV sketch build "
        "(the DataSketches-style OLAP shape): the 5 per-event-type "
        "sketches are built once (O(k) rows each), then every pair's "
        "union/intersection estimate comes from merging two TINY "
        "sketches — a (ga, gb)-PARTITIONED rank window over <= 2k rows "
        "per pair, never a re-scan of events. est_jaccard_ppm = "
        "floor(est_inter * 1e6 / est_union); exact pairwise Jaccard "
        "rides along as the fixture-scale verification "
        "(inclusion-exclusion over distinct counts). Sketch arithmetic "
        "identical to kmv_audience_overlap; the oracle replays the "
        "whole matrix relationally.",
    tags=("sketch", "agg", "north-star"),
)
def audience_jaccard_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from hops_spark.ops.sketch import kmv_sketch
    e = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(e.select("event_type", "user_id"),
                    "event_type", "user_id", _KMV_K).select("grp", "hv")
    grps = sk.select("grp").distinct()
    prs = (grps.select(F.col("grp").alias("ga"))
               .join(grps.select(F.col("grp").alias("gb")),
                     F.col("ga") < F.col("gb")))
    mem = (prs.join(sk, (sk.grp == F.col("ga"))
                    | (sk.grp == F.col("gb")))
              .groupBy("ga", "gb", "hv")
              .agg(F.max(F.when(F.col("grp") == F.col("ga"), 1)
                          .otherwise(0)).alias("ina"),
                   F.max(F.when(F.col("grp") == F.col("gb"), 1)
                          .otherwise(0)).alias("inb")))
    w = Window.partitionBy("ga", "gb").orderBy("hv")
    m = mem.withColumn("_rk", F.row_number().over(w)) \
           .filter(F.col("_rk") <= _KMV_K)
    agg = (m.groupBy("ga", "gb")
            .agg(F.count("*").alias("n_kept"),
                 F.max(F.when(F.col("_rk") == _KMV_K, F.col("hv")))
                  .alias("kth"),
                 F.sum(F.when((F.col("ina") == 1) & (F.col("inb") == 1), 1)
                        .otherwise(0)).alias("n_both")))
    est_u = (F.when(F.col("n_kept") < _KMV_K, F.col("n_kept"))
              .otherwise(F.expr(f"CAST(({_KMV_K} - 1) * {KMV_DOMAIN} "
                                f"div kth AS BIGINT)")).cast("long"))
    est_i = (F.when(F.col("n_kept") < _KMV_K, F.col("n_both"))
              .otherwise(F.expr(
                  f"CAST(((({_KMV_K} - 1) * {KMV_DOMAIN} div kth) "
                  f"div {_KMV_K}) * n_both + ((({_KMV_K} - 1) * "
                  f"{KMV_DOMAIN} div kth) % {_KMV_K}) * n_both "
                  f"div {_KMV_K} AS BIGINT)")).cast("long"))
    est = agg.select("ga", "gb", est_u.alias("est_union"),
                     est_i.alias("est_intersection"))
    du = e.select(F.col("event_type").alias("grp"), "user_id").distinct()
    exact = (du.alias("a").join(
                du.alias("b"),
                (F.col("a.user_id") == F.col("b.user_id"))
                & (F.col("a.grp") < F.col("b.grp")))
             .groupBy(F.col("a.grp").alias("ga"),
                      F.col("b.grp").alias("gb"))
             .agg(F.count("*").alias("exact_intersection")))
    sizes = du.groupBy("grp").agg(F.count("*").alias("nd"))
    return (est.join(exact, ["ga", "gb"], "left")
            .join(F.broadcast(sizes.select(F.col("grp").alias("ga"),
                                           F.col("nd").alias("nda"))), "ga")
            .join(F.broadcast(sizes.select(F.col("grp").alias("gb"),
                                           F.col("nd").alias("ndb"))), "gb")
            .select("ga", "gb", "est_union", "est_intersection",
                    F.expr("CAST(est_intersection * 1000000 div "
                           "greatest(est_union, 1) AS BIGINT)")
                     .alias("est_jaccard_ppm"),
                    F.expr("CAST(coalesce(exact_intersection, 0) * 1000000"
                           " div (nda + ndb - coalesce(exact_intersection,"
                           " 0)) AS BIGINT)").alias("exact_jaccard_ppm"))
            .orderBy("ga", "gb"))


TRI_MIN_COOC = 3
TRI_TOP = 20


@register(
    "triangle_census",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), prs AS (
        SELECT least(w[i.i], w[i.i + d.d]) AS word_a,
               greatest(w[i.i], w[i.i + d.d]) AS word_b
        FROM wt,
             LATERAL (SELECT unnest(range(1, len(w))) AS i) i,
             LATERAL (SELECT unnest(range(1, least(2, len(w) - i.i) + 1)) AS d) d
        WHERE len(w) >= 2
    ), cnt AS (
        SELECT word_a, word_b, count(*) AS n_cooc
        FROM prs GROUP BY word_a, word_b
    ), e AS (
        SELECT word_a AS u, word_b AS v FROM cnt
        WHERE n_cooc >= {TRI_MIN_COOC} AND word_a <> word_b
    ), deg AS (
        SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e
        ) GROUP BY n
    ), ed AS (
        SELECT e.u, e.v, du.d AS du, dv.d AS dv
        FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
    ), o AS (
        SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS s,
               CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS t,
               CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS dt
        FROM ed
    ), tri AS (
        SELECT o1.s AS u, o1.t AS v, o2.t AS w
        FROM o o1
        JOIN o o2 ON o2.s = o1.s
               AND (o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t))
        JOIN o o3 ON o3.s = o1.t AND o3.t = o2.t
    ), nodes AS (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
    ), total AS (
        SELECT CAST(count(*) AS BIGINT) AS total_triangles FROM tri
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles, total_triangles
    FROM nodes CROSS JOIN total
    GROUP BY node, total_triangles
    ORDER BY n_triangles DESC, node
    LIMIT {TRI_TOP}
    """.replace("{DW}", _DUCK_WORDS),
    doc="Triangle census of the word co-occurrence graph via "
        "degree-oriented wedge closure (the 'forward' algorithm, "
        "Schank & Wagner 2005 — ops/graph.triangle_rows): every edge "
        "oriented low-(degree,id) -> high, wedges closed against the "
        "oriented third edge, each triangle counted EXACTLY once. "
        "Orientation caps every out-degree at O(sqrt(m)) so wedge "
        "volume is O(m^1.5) — the optimal bound; the naive three-way "
        "self-join pays sum(deg^2) on hub words instead. Emits the "
        "top-20 words by triangle participation (clustering-hub "
        "census) with the exact global triangle count riding on every "
        "row; the oracle replays orientation and closure relationally. "
        "Upgrades the pedagogical lexicographic-orientation "
        "triangle_count example to the scale algorithm.",
    tags=("retrieval", "graph", "north-star"),
)
def triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.graph import triangle_rows
    from hops_spark.ops.retrieval import cooccurrence_edges
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = (cooccurrence_edges(bound_words(d, "doc_id"), 2)
             .filter((F.col("n_cooc") >= TRI_MIN_COOC)
                     & (F.col("word_a") != F.col("word_b")))
             .select("word_a", "word_b"))
    # materialize the wedge-closure output ONCE: it feeds both the
    # per-node census and the total, and ReuseExchange only dedupes
    # shuffle inputs — without this the O(m^1.5) join would run per
    # consumer (the recompute class notes 53/57 guard against)
    tri = triangle_rows(edges, "word_a", "word_b").localCheckpoint(
        eager=False)
    nodes = (tri.select(F.explode(F.array("u", "v", "w")).alias("node")))
    total = tri.agg(F.count("*").cast("long").alias("total_triangles"))
    return (nodes.groupBy("node")
                 .agg(F.count("*").cast("long").alias("n_triangles"))
                 .crossJoin(F.broadcast(total))
                 .orderBy(F.col("n_triangles").desc(), "node")
                 .limit(TRI_TOP))


@register(
    "term_stats_incremental",
    # The oracle computes term stats over the FULL corpus in one pass;
    # the Spark side builds per-partition stats for the existing half
    # and the new batch SEPARATELY and merges them (sum/min/max) — the
    # hash match IS the proof that incremental index maintenance
    # equals a full rebuild.
    sql=f"""
    WITH tok AS (
        SELECT doc_id, t AS term
        FROM (SELECT doc_id, unnest({{DW}}) AS t FROM documents)
    ), per_doc AS (
        SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY term, doc_id
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM per_doc
    GROUP BY term
    HAVING count(*) >= 3
    ORDER BY term
    """.replace("{DW}", _DUCK_WORDS),
    doc="Incremental inverted-index statistics maintenance: the corpus "
        "is split into an 'existing' half (doc_id % 3 != 0) and a "
        "'new batch' (doc_id % 3 = 0), per-term stats (df, total tf, "
        "doc-id range) are built for each side INDEPENDENTLY and "
        "merged with the mergeable-aggregate laws (df/tf sum, range "
        "min/max — doc sets are disjoint so df adds exactly); the "
        "oracle rebuilds from the full corpus in one pass, so the "
        "hash match certifies merge ≡ rebuild. This is the index-"
        "refresh contract at 100 TB: nightly batches update a "
        "term-stats table by merging, never by rescanning the corpus "
        "(the incremental-dedup ingest shape applied to retrieval "
        "metadata). df >= 3 keeps the output vocab-bounded.",
    tags=("retrieval", "north-star"),
)
def term_stats_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(part: DataFrame) -> DataFrame:
        from hops_spark.ops.text import words as _words
        tok = part.select("doc_id",
                          F.explode(_words("text")).alias("term"))
        per_doc = (tok.groupBy("term", "doc_id")
                      .agg(F.count("*").cast("long").alias("tf")))
        return (per_doc.groupBy("term")
                .agg(F.count("*").cast("long").alias("df"),
                     F.sum("tf").cast("long").alias("total_tf"),
                     F.min("doc_id").alias("first_doc"),
                     F.max("doc_id").alias("last_doc")))

    existing = stats(d.filter(F.col("doc_id") % 3 != 0))
    new_batch = stats(d.filter(F.col("doc_id") % 3 == 0))
    merged = (existing.unionByName(new_batch)
              .groupBy("term")
              .agg(F.sum("df").cast("long").alias("df"),
                   F.sum("total_tf").cast("long").alias("total_tf"),
                   F.min("first_doc").alias("first_doc"),
                   F.max("last_doc").alias("last_doc")))
    return (merged.filter(F.col("df") >= 3)
                  .orderBy("term"))


# --- hybrid retrieval: reciprocal-rank fusion ----------------------------

HY_L = 50          # candidate-list depth per system
HY_TOPK = 15
HY_K_RRF = 60      # the Cormack et al. 2009 constant
HY_DIM = 64


def _duck_hybrid_sql() -> str:
    qw = R.query_bucket_weights(QUERY_TERMS, HY_DIM)
    wcase = " ".join(f"WHEN {b} THEN {w}" for b, w in qw.items())
    lex = _duck_bm25_sql(QUERY_TERMS, HY_L).strip()
    return f"""
    WITH lex AS (
        {lex}
    ), dtok AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS w FROM documents
    ), dcell AS (
        SELECT doc_id,
               (CASE WHEN ('0x' || substring(md5('hbow|' || w), 8, 1))::BIGINT
                          % 2 = 0 THEN 1 ELSE -1 END)
               * (CASE ('0x' || substring(md5('hbow|' || w), 1, 7))::BIGINT
                       % {HY_DIM} {wcase} ELSE 0 END) AS c
        FROM dtok
    ), dense AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS dot
        FROM dcell WHERE c <> 0 GROUP BY doc_id
        ORDER BY dot DESC, doc_id LIMIT {HY_L}
    ), lexr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
        FROM lex
    ), denr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY dot DESC, doc_id) AS r_dense
        FROM dense
    )
    SELECT doc_id,
           CAST(coalesce(r_lex, 0) AS BIGINT) AS r_lex,
           CAST(coalesce(r_dense, 0) AS BIGINT) AS r_dense,
           CAST(coalesce(1000000 // ({HY_K_RRF} + r_lex), 0)
                + coalesce(1000000 // ({HY_K_RRF} + r_dense), 0) AS BIGINT)
               AS rrf_ppm
    FROM lexr FULL JOIN denr USING (doc_id)
    ORDER BY rrf_ppm DESC, doc_id
    LIMIT {HY_TOPK}
    """


@register(
    "hybrid_rrf_retrieval",
    sql=_duck_hybrid_sql(),
    doc="Hybrid retrieval with reciprocal-rank fusion (Cormack, Clarke "
        "& Buettcher 2009): a BM25 lexical candidate list and a dense "
        "integer inner-product list (the hashing-trick query vector of "
        "hashed_bow_embedding, inlined as plan-time literals via "
        "ops/retrieval.query_bucket_weights) each retrieve top-50, "
        "then rrf(d) = Σ 1000000 div (60 + rank) in exact integer ppm. "
        "Ranking of the bounded lists is the O(k²) join-count rank "
        "(ops/retrieval.ranked_bounded) — no single-partition window; "
        "both candidate retrievals are corpus-scale aggregates with "
        "query-side filters BEFORE the shuffle. The two-system shape "
        "(sparse + dense, fuse by rank not score) is the standard "
        "production hybrid — score scales never need calibrating.",
    tags=("retrieval", "text", "north-star"),
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lex, dense = R.hybrid_candidate_lists(d, QUERY_TERMS, HY_L, HY_DIM)
    return R.rrf_fuse(lex, dense, "bm25", "dot", "doc_id",
                      HY_K_RRF, HY_TOPK)


@register(
    "phrase_search_postings",
    sql=f"""
    WITH post AS (
        SELECT term, doc_id, pos
        FROM (
            SELECT doc_id, unnest(w) AS term,
                   unnest(range(1, len(w) + 1)) AS pos
            FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
        )
    ), starts AS (
        SELECT p0.doc_id, p0.pos
        FROM post p0
        {" ".join(
            f"JOIN post p{j} ON p{j}.term = '{t}' "
            f"AND p{j}.doc_id = p0.doc_id AND p{j}.pos = p0.pos + {j}"
            for j, t in enumerate(_PHRASE) if j > 0)}
        WHERE p0.term = '{_PHRASE[0]}'
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ,
           CAST(min(pos) AS BIGINT) AS first_pos
    FROM starts GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Exact phrase search through the positional-postings inverted "
        "index (posting-list intersection, Manning et al. IR ch.2): "
        "term j's postings semi-join term 0's on (doc, pos + j). The "
        "SERVING-side twin of phrase_search's map-only scan: the scan "
        "reads every document; this touches only the phrase terms' "
        "postings — with a prebuilt term-bucketed index that is the "
        "classic rare-phrase IO win. Identical output contract to "
        "phrase_search (equality asserted in tests). "
        "ops/retrieval.phrase_occurrences_indexed.",
    tags=("retrieval", "text"),
)
def phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return R.phrase_occurrences_indexed(d, _PHRASE).orderBy("doc_id")


# CTE chain wt..sc ending in sc(w1, w2, nlp_micro) — the corpus KN
# bigram scorer; shared by the per-doc NLL query and the exportable
# model-table query.
_KN_SC_CTES = """wt AS (
        SELECT doc_id, {DW} AS w FROM documents
    ), bg AS (
        SELECT doc_id, w[i.i] AS w1, w[i.i + 1] AS w2
        FROM wt, LATERAL (SELECT unnest(range(1, len(w))) AS i) i
        WHERE len(w) >= 2
    ), cnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
        FROM bg GROUP BY w1, w2
    ), ctx AS (
        SELECT w1, CAST(sum(n) AS BIGINT) AS n_ctx,
               CAST(count(*) AS BIGINT) AS n1f
        FROM cnt GROUP BY w1
    ), cont AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM cnt GROUP BY w2
    ), tt AS (
        SELECT CAST(count(*) AS BIGINT) AS t FROM cnt
    ), sc AS (
        SELECT c.w1, c.w2,
               CAST(round(-ln((greatest(CAST(n AS DOUBLE) - 0.75e0, 0e0)
                    + 0.75e0 * n1f * (CAST(n1b AS DOUBLE) / t)) / n_ctx)
                    * 1000000, 0) AS BIGINT) AS nlp_micro
        FROM cnt c JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tt
    )""".replace("{DW}", _DUCK_WORDS)


@register(
    "kn_doc_perplexity",
    sql=f"""
    WITH {_KN_SC_CTES}
    SELECT b.doc_id, count(*) AS n_bigrams,
           CAST(sum(s.nlp_micro) AS BIGINT) AS kn_nll_micro,
           CAST(sum(s.nlp_micro) AS BIGINT) // count(*) AS avg_kn_nll_micro
    FROM bg b JOIN sc s ON b.w1 = s.w1 AND b.w2 = s.w2
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    doc="Per-document interpolated Kneser-Ney bigram NLL (Kneser & Ney "
        "1995; Chen & Goodman 1999 eq. 4.24, fixed discount D=0.75) — "
        "the smoothing KenLM-grade perplexity filters actually use, "
        "next to doc_perplexity's add-one baseline: mass discounted "
        "from seen bigrams is reassigned by CONTINUATION counts (how "
        "many left contexts a word follows), not raw frequency. All "
        "four KN statistics are aggregates of the vocab-bounded count "
        "table; per-bigram -ln P snapped to integer micro-nats before "
        "the order-free per-doc sum. ops/lm.doc_kn_scores.",
    tags=("retrieval", "text", "north-star"),
)
def kn_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import doc_kn_scores
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return doc_kn_scores(d).orderBy("doc_id")


@register(
    "word_pmi",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), prs AS (
        SELECT least(w[i.i], w[i.i + d.d]) AS word_a,
               greatest(w[i.i], w[i.i + d.d]) AS word_b
        FROM wt,
             LATERAL (SELECT unnest(range(1, len(w))) AS i) i,
             LATERAL (SELECT unnest(range(1, least(2, len(w) - i.i) + 1)) AS d) d
        WHERE len(w) >= 2
    ), cnt AS (
        SELECT word_a, word_b, CAST(count(*) AS BIGINT) AS n_cooc
        FROM prs GROUP BY word_a, word_b
        HAVING count(*) >= {R.MIN_COOC_PMI}
    ), marg AS (
        SELECT word, CAST(sum(n_cooc) AS BIGINT) AS m FROM (
            SELECT word_a AS word, n_cooc FROM cnt
            UNION ALL SELECT word_b AS word, n_cooc FROM cnt
        ) GROUP BY word
    ), tot AS (
        SELECT CAST(sum(n_cooc) AS BIGINT) AS nn FROM cnt
    )
    SELECT c.word_a, c.word_b, c.n_cooc,
           CAST(round(ln((4e0 * c.n_cooc * nn) /
                (CAST(ma.m AS DOUBLE) * mb.m)) * 1000000, 0) AS BIGINT)
             AS pmi_micro
    FROM cnt c
    JOIN marg ma ON ma.word = c.word_a
    JOIN marg mb ON mb.word = c.word_b
    CROSS JOIN tot
    ORDER BY pmi_micro DESC, word_a, word_b
    LIMIT 20
    """.replace("{DW}", _DUCK_WORDS),
    doc="PMI-ranked collocations (Church & Hanks 1990; the word2vec "
        "phrase pass, Mikolov et al. 2013 §4): same within-2 pair "
        "machinery as word_cooccurrence but ranked by ASSOCIATION — "
        "pmi = ln(4·n_ab·N / (m_a·m_b)) over endpoint marginals, in "
        "exact integer micro-nats; n_cooc >= 5 suppresses the "
        "max-PMI hapax tail. The vocab-curation input for tokenizer "
        "training. ops/retrieval.pmi_topk.",
    tags=("retrieval", "text"),
)
def word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return R.pmi_topk(d, window=2, k=20)


def _duck_maxsim_core(terms: list[str], dim: int, toks_body: str) -> str:
    """CTE chain toks→piv of the MaxSim oracle (no WITH keyword, no
    final SELECT) — shared by the full-corpus query and the rerank
    cascade, which restricts ``toks_body`` to a shortlist."""
    qvals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(terms))
    piv = ",\n           ".join(
        f"max(CASE WHEN qi = {i} THEN m END) AS c{i}"
        for i in range(len(terms)))
    return f"""toks AS (
        {toks_body}
    ), qterms AS (
        SELECT * FROM (VALUES {qvals}) q(qi, qterm)
    ), allterms AS (
        SELECT DISTINCT term FROM toks
        UNION SELECT qterm AS term FROM qterms
    ), dg AS (
        SELECT term, substr(term, i.i, 3) AS g
        FROM allterms,
             LATERAL (SELECT unnest(range(1, greatest(len(term) - 2, 1) + 1))
                      AS i) i
    ), dc AS (
        SELECT term,
               ('0x' || substring(md5('msim|' || g), 1, 7))::BIGINT % {dim}
                 AS b,
               CASE WHEN ('0x' || substring(md5('msim|' || g), 8, 1))::BIGINT
                         % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM dg
    ), cells AS (
        SELECT term, b, CAST(sum(s) AS DOUBLE) AS v FROM dc GROUP BY term, b
    ), grid AS (
        SELECT a.term, r.j FROM allterms a,
             LATERAL (SELECT unnest(range(0, {dim})) AS j) r
    ), dvec AS (
        SELECT g.term, list(coalesce(c.v, 0.0) ORDER BY g.j) AS raw
        FROM grid g LEFT JOIN cells c ON c.term = g.term AND c.b = g.j
        GROUP BY g.term
    ), dunit AS (
        SELECT term,
               CASE WHEN sqrt(list_sum(list_transform(raw, x -> x * x))) = 0
                    THEN raw
                    ELSE list_transform(raw, x -> x /
                         sqrt(list_sum(list_transform(raw, y -> y * y))))
               END AS v
        FROM dvec
    ), scored AS (
        SELECT t.doc_id, q.qi,
               round(list_cosine_similarity(dv.v, qv.v), 6) AS c
        FROM toks t
        JOIN dunit dv ON dv.term = t.term
             AND list_sum(list_transform(dv.v, x -> x * x)) > 0
        CROSS JOIN qterms q
        JOIN dunit qv ON qv.term = q.qterm
             AND list_sum(list_transform(qv.v, x -> x * x)) > 0
    ), mx AS (
        SELECT doc_id, qi, max(c) AS m FROM scored GROUP BY doc_id, qi
    ), piv AS (
        SELECT doc_id,
           {piv}
        FROM mx GROUP BY doc_id
    )""".replace("{DW}", _DUCK_WORDS)


def _maxsim_score_expr(terms: list[str]) -> str:
    return " + ".join(f"coalesce(c{i}, 0.0)" for i in range(len(terms)))


def _duck_maxsim_sql(terms: list[str], k: int, dim: int) -> str:
    core = _duck_maxsim_core(
        terms, dim,
        f"SELECT DISTINCT doc_id, unnest({_DUCK_WORDS}) AS term "
        "FROM documents")
    return f"""
    WITH {core}
    SELECT doc_id, round({_maxsim_score_expr(terms)}, 6) AS maxsim
    FROM piv
    ORDER BY maxsim DESC, doc_id
    LIMIT {k}
    """


RR_SHORTLIST = 50   # stage-1 (BM25) recall depth
RR_K = 10           # stage-2 (MaxSim) rerank output


def _duck_rerank_sql(terms: list[str], shortlist_k: int, k: int,
                     dim: int) -> str:
    lex = _duck_bm25_sql(terms, shortlist_k).strip()
    core = _duck_maxsim_core(
        terms, dim,
        f"SELECT DISTINCT d.doc_id, unnest({_DUCK_WORDS}) AS term "
        "FROM documents d JOIN lex USING (doc_id)")
    return f"""
    WITH lex AS (
        {lex}
    ), lexr AS (
        SELECT doc_id, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        FROM lex
    ), {core}
    SELECT p.doc_id, CAST(lr.lex_rank AS BIGINT) AS lex_rank, lr.bm25,
           round({_maxsim_score_expr(terms)}, 6) AS maxsim
    FROM piv p JOIN lexr lr USING (doc_id)
    ORDER BY maxsim DESC, doc_id
    LIMIT {k}
    """


@register(
    "maxsim_retrieval",
    sql=_duck_maxsim_sql(QUERY_TERMS, TOP_K, R.MSIM_DIM),
    doc="Late-interaction retrieval, the ColBERT MaxSim rule (Khattab "
        "& Zaharia 2020): score(doc) = Σ_q max_{t∈doc} cos(v_q, v_t) "
        "— each query term independently finds its best document "
        "term, the property that beats single-vector retrieval on "
        "multi-aspect queries. Term vectors are deterministic "
        "char-3-gram signed-hashing embeddings (an external model's "
        "token embeddings drop into the same plan). One distinct "
        "(doc, term) aggregate — the postings vocabulary, never the "
        "token stream — vectors map-side, per-(doc, qterm) max, "
        "fixed-order float sum (the bm25 discipline). "
        "ops/retrieval.maxsim_topk.",
    tags=("retrieval", "text", "north-star"),
)
def maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return R.maxsim_topk(d, QUERY_TERMS, TOP_K)


@register(
    "rerank_maxsim",
    sql=_duck_rerank_sql(QUERY_TERMS, RR_SHORTLIST, RR_K, R.MSIM_DIM),
    doc="Retrieve-then-rerank cascade (Nogueira & Cho 2019; the "
        "ColBERT §5 deployment shape): BM25 retrieves a top-50 "
        "shortlist — the only corpus-scale stage — then the expensive "
        "late-interaction MaxSim model scores ONLY the bounded "
        "shortlist (broadcast semi join), so the reranker's cost is "
        "constant in corpus size. Output keeps the recall-stage rank "
        "beside the final order, the rank-movement table a relevance "
        "engineer tunes against. ops/retrieval.maxsim_rerank.",
    tags=("retrieval", "text", "north-star"),
)
def rerank_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return R.maxsim_rerank(d, QUERY_TERMS, RR_SHORTLIST, RR_K)


BFS_SEED = "the"
BFS_ITERS = 3


def _duck_bfs_round(prev: str, cur: str) -> str:
    return f"""{cur} AS (
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT ed.t AS node, p.dist + 1 AS dist
            FROM {prev} p JOIN ed ON ed.s = p.node
        ) GROUP BY node
    )"""


@register(
    "word_graph_bfs",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), prs AS (
        SELECT least(w[i.i], w[i.i + d.d]) AS word_a,
               greatest(w[i.i], w[i.i + d.d]) AS word_b
        FROM wt,
             LATERAL (SELECT unnest(range(1, len(w))) AS i) i,
             LATERAL (SELECT unnest(range(1, least(2, len(w) - i.i) + 1)) AS d) d
        WHERE len(w) >= 2
    ), cnt AS (
        SELECT word_a, word_b
        FROM prs WHERE word_a <> word_b
        GROUP BY word_a, word_b
        HAVING count(*) >= {R.MIN_COOC_PMI}
    ), ed AS (
        SELECT word_a AS s, word_b AS t FROM cnt
        UNION
        SELECT word_b AS s, word_a AS t FROM cnt
    ), d0 AS (
        SELECT '{BFS_SEED}' AS node, CAST(0 AS BIGINT) AS dist
    ), {", ".join(_duck_bfs_round(f"d{i}", f"d{i + 1}")
                  for i in range(BFS_ITERS))}
    SELECT node AS word, dist FROM d{BFS_ITERS} ORDER BY word
    """.replace("{DW}", _DUCK_WORDS),
    doc="Multi-source BFS hop distances over the word co-occurrence "
        "graph (within-2 pairs, n_cooc >= 5 — the word_pmi edge "
        "machinery), seeded at a query term: how many association "
        "hops separate every vocabulary word from the seed — the "
        "graph-expansion primitive behind query expansion and "
        "related-term suggestion. Fixed 3 synchronous rounds, one "
        "frontier join + keyed min per round; the oracle unrolls the "
        "rounds relationally (the knn_graph_kcore discipline). "
        "Unreached words absent by the frontier contract. "
        "ops/graph.bfs_distances.",
    tags=("retrieval", "text", "graph"),
)
def word_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.graph import bfs_distances
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bound = bound_words(d, "doc_id")
    edges = (R.cooccurrence_edges(bound, window=2)
              .filter(F.col("n_cooc") >= R.MIN_COOC_PMI)
              .select(F.col("word_a").alias("src"),
                      F.col("word_b").alias("dst")))
    seeds = spark.range(1).select(F.lit(BFS_SEED).alias("node"))
    return (bfs_distances(edges, seeds, BFS_ITERS)
            .select(F.col("node").alias("word"), "dist")
            .orderBy("word"))


NEG_TOP = 50


@register(
    "negative_sampling_table",
    sql=f"""
    WITH toks AS (
        SELECT unnest({{DW}}) AS word FROM documents
    ), uni AS (
        SELECT word, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY word
    ), wts AS (
        SELECT word, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE) * sqrt(CAST(n AS DOUBLE))))
                    AS BIGINT) AS w34
        FROM uni
    ), tot AS (
        SELECT CAST(sum(w34) AS BIGINT) AS t FROM wts
    )
    SELECT word, n, w34,
           CAST((w34 * 1000000) // t AS BIGINT) AS p_ppm
    FROM wts, tot
    ORDER BY n DESC, word
    LIMIT {NEG_TOP}
    """.replace("{DW}", _DUCK_WORDS),
    doc="Negative-sampling distribution for contrastive word/embedding "
        "training (Mikolov et al. 2013 §2.2: unigram^(3/4) — the "
        "smoothing that upweights rare words): the 3/4 power computed "
        "as floor(sqrt(n·sqrt(n))) — two IEEE-correctly-rounded sqrts "
        "instead of pow(), so both engines produce the identical "
        "integer weight (the exp()/pow() cross-libm hazard avoided by "
        "construction) — then sampling probability in ppm over the "
        "full-vocabulary weight total. One vocab-bounded aggregate; "
        "top-50 rows with a (count, word) tie-break.",
    tags=("retrieval", "text", "ml", "sampling"),
)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.text import words
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    uni = (d.select(F.explode(words("text")).alias("word"))
            .groupBy("word").agg(F.count("*").cast("long").alias("n")))
    wts = uni.withColumn(
        "w34", F.expr("CAST(floor(sqrt(CAST(n AS DOUBLE) "
                      "* sqrt(CAST(n AS DOUBLE)))) AS BIGINT)"))
    tot = wts.agg(F.sum("w34").cast("long").alias("t"))
    return (wts.crossJoin(F.broadcast(tot))
               .select("word", "n", "w34",
                       F.expr("CAST((w34 * 1000000) div t AS BIGINT)")
                        .alias("p_ppm"))
               .orderBy(F.col("n").desc(), "word")
               .limit(NEG_TOP))


@register(
    "kn_bigram_table",
    sql=f"""
    WITH {_KN_SC_CTES}
    SELECT c.w1, c.w2, c.n, s.nlp_micro,
           CAST(round(0.75e0 * ctx.n1f / ctx.n_ctx * 1000000, 0) AS BIGINT)
               AS bow_micro
    FROM cnt c
    JOIN sc s ON s.w1 = c.w1 AND s.w2 = c.w2
    JOIN ctx ON ctx.w1 = c.w1
    ORDER BY c.w1, c.w2
    """,
    doc="The exportable Kneser-Ney bigram MODEL (the ARPA-table role "
        "KenLM consumers ship, Chen & Goodman 1999 eq. 4.24): one row "
        "per seen bigram with its corpus count, interpolated -ln P in "
        "integer micro-nats (identical expression to the per-doc "
        "scorer — shared CTE chain), and the context's interpolation "
        "weight D·N1+(w1,·)/c(w1) as bow_micro (one fixed-shape "
        "double per context, D = 0.75 exact in binary). Vocab-bounded "
        "output; downstream scorers join it instead of re-deriving "
        "the LM. ops/lm.kn_count_table.",
    tags=("retrieval", "text", "ml"),
)
def kn_bigram_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import (MICRO, doc_bigram_counts,
                                   kn_count_table, kn_scored_counts)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = kn_scored_counts(kn_count_table(doc_bigram_counts(d)))
    return (scored.select(
                "w1", "w2", "n", "nlp_micro",
                F.expr(f"CAST(round(0.75e0 * n1f / n_ctx * {MICRO}, 0) "
                       "AS BIGINT)").alias("bow_micro"))
               .orderBy("w1", "w2"))


from hops_spark.ops.lm import KN3_P1, KN3_P2, KN3_P3  # noqa: E402

# The trigram-KN ARPA derivation, shared verbatim by the export query
# and the ARPA-consumer perplexity oracle (one chain, two faces).
_KN3_CTES = f"""wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), tg AS (
        SELECT w[i.i] AS w1, w[i.i + 1] AS w2, w[i.i + 2] AS w3
        FROM wt, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) i
        WHERE len(w) >= 3
    ), c3 AS (
        SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n
        FROM tg GROUP BY w1, w2, w3
    ), p12 AS (
        SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c12,
               CAST(count(*) AS BIGINT) AS n1f12
        FROM c3 GROUP BY w1, w2
    ), cc2 AS (
        SELECT w2, w3, CAST(count(*) AS BIGINT) AS cc
        FROM c3 GROUP BY w2, w3
    ), mid AS (
        SELECT w2, CAST(sum(cc) AS BIGINT) AS ccd2,
               CAST(count(*) AS BIGINT) AS n1fc2
        FROM cc2 GROUP BY w2
    ), uni AS (
        SELECT w3, CAST(count(*) AS BIGINT) AS n1b3 FROM cc2 GROUP BY w3
    ), t2t AS (
        SELECT CAST(count(*) AS BIGINT) AS t2 FROM cc2
    ), ord3 AS (
        SELECT 3 AS ord, c.w1, c.w2, c.w3, c.n,
               CAST(round(-ln({KN3_P3}) * 1000000, 0) AS BIGINT)
                   AS nlp_micro,
               CAST(0 AS BIGINT) AS bow_micro
        FROM c3 c JOIN p12 USING (w1, w2) JOIN cc2 USING (w2, w3)
        JOIN mid USING (w2) JOIN uni USING (w3) CROSS JOIN t2t
        WHERE c.n >= 2
    ), sfx AS (
        SELECT cc2.w2 AS a, cc2.w3 AS b, cc,
               CAST(round(-ln({KN3_P2}) * 1000000, 0) AS BIGINT)
                   AS nlp_micro
        FROM cc2 JOIN mid USING (w2) JOIN uni USING (w3) CROSS JOIN t2t
    ), pfx AS (
        SELECT w1 AS a, w2 AS b,
               CAST(round(0.75e0 * n1f12 / c12 * 1000000, 0) AS BIGINT)
                   AS bow_micro
        FROM p12
    ), ord2 AS (
        SELECT 2 AS ord, COALESCE(s.a, p.a) AS w1,
               COALESCE(s.b, p.b) AS w2, '' AS w3,
               CAST(s.cc AS BIGINT) AS n, s.nlp_micro,
               CAST(COALESCE(p.bow_micro, 1000000) AS BIGINT) AS bow_micro
        FROM sfx s FULL OUTER JOIN pfx p ON s.a = p.a AND s.b = p.b
    ), ord1 AS (
        SELECT 1 AS ord, u.w3 AS w1, '' AS w2, '' AS w3, u.n1b3 AS n,
               CAST(round(-ln({KN3_P1}) * 1000000, 0) AS BIGINT)
                   AS nlp_micro,
               CAST(COALESCE(round(0.75e0 * n1fc2 / ccd2 * 1000000, 0),
                             1000000)
                    AS BIGINT) AS bow_micro
        FROM uni u LEFT JOIN mid m ON m.w2 = u.w3 CROSS JOIN t2t
    )""".replace("{DW}", _DUCK_WORDS)


@register(
    "kn_trigram_arpa",
    sql=f"""
    WITH {_KN3_CTES}
    SELECT CAST(ord AS INT) AS ord, w1, w2, w3, n, nlp_micro, bow_micro
    FROM (SELECT * FROM ord1 UNION ALL SELECT * FROM ord2
          UNION ALL SELECT * FROM ord3)
    ORDER BY ord, w1, w2, w3
    """,
    doc="The interpolated-Kneser-Ney TRIGRAM model as an ARPA-shaped "
        "table (the artifact every KenLM-style perplexity-gating "
        "pipeline ships; Heafield 2011, Chen & Goodman 1999 eq. 4.24 "
        "at each order, D = 0.75): ord-3 rows are count>=2-pruned "
        "trigrams with -ln P_KN(w3|w1,w2) in integer micro-nats; ord-2 "
        "rows are the full bigram inventory (prefix contexts FULL "
        "OUTER suffix pairs) carrying the continuation-count bigram "
        "probability and the trigram backoff weight "
        "D*N1+(w1w2.)/c(w1w2) in linear micro; ord-1 rows are "
        "continuation unigrams with the bigram backoff weight. All "
        "probabilities are fixed-shape double expressions (ops/lm."
        "KN3_P1/P2/P3 — the identical text runs on both engines) over "
        "integer type-counts of ONE corpus trigram aggregate, snapped "
        "per row to micro-nats — no float aggregate anywhere. "
        "Downstream scorers join the table instead of re-deriving the "
        "LM (the kn_bigram_table role, one order up). ops/lm.kn3_arpa.",
    tags=("retrieval", "text", "ml", "north-star"),
)
def kn_trigram_arpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import kn3_arpa, trigram_count_table
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (kn3_arpa(trigram_count_table(d), prune3=2)
            .orderBy("ord", "w1", "w2", "w3"))


from hops_spark.ops.lm import BOW_PASSTHROUGH, KN3_COST  # noqa: E402


@register(
    "kn_trigram_perplexity",
    sql=f"""
    WITH {_KN3_CTES}, o3 AS (
        SELECT w1, w2, w3, nlp_micro AS nlp3 FROM ord3
    ), o2 AS (
        SELECT w1 AS a, w2 AS b, nlp_micro AS nlp2, bow_micro AS bw
        FROM ord2
    ), o1 AS (
        SELECT w1 AS u, nlp_micro AS nlp1, bow_micro AS b1 FROM ord1
    ), dtg AS (
        SELECT doc_id, w[i.i] AS w1, w[i.i + 1] AS w2, w[i.i + 2] AS w3
        FROM wt, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) i
        WHERE len(w) >= 3
    ), dpc AS (
        SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS n_local
        FROM dtg GROUP BY doc_id, w1, w2, w3
    ), sc3 AS (
        SELECT d.doc_id, d.n_local, o3.nlp3, s.nlp2, p.bw AS bow2,
               u1.nlp1, ub.b1 AS bow1, t2t.t2
        FROM dpc d
        LEFT JOIN o3 ON o3.w1 = d.w1 AND o3.w2 = d.w2 AND o3.w3 = d.w3
        LEFT JOIN o2 s ON s.a = d.w2 AND s.b = d.w3
        LEFT JOIN o2 p ON p.a = d.w1 AND p.b = d.w2
        LEFT JOIN o1 u1 ON u1.u = d.w3
        LEFT JOIN o1 ub ON ub.u = d.w2
        CROSS JOIN t2t
    ), costed AS (
        SELECT doc_id, n_local,
               {KN3_COST} AS cost,
               CASE WHEN nlp3 IS NULL THEN 1 ELSE 0 END AS backoff
        FROM sc3
    )
    SELECT doc_id,
           CAST(sum(n_local) AS BIGINT) AS n_trigrams,
           CAST(sum(backoff * n_local) AS BIGINT) AS n_backoff,
           CAST(sum(cost * n_local) AS BIGINT) AS nll3_micro,
           CAST(sum(cost * n_local) // sum(n_local) AS BIGINT)
               AS avg_nll3_micro
    FROM costed GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Per-document trigram KN perplexity scored AGAINST THE "
        "EXPORTED MODEL TABLE — the ARPA-CONSUMER path that justifies "
        "shipping kn_trigram_arpa (downstream jobs join the model's "
        "stored integer micro values instead of re-deriving the LM; "
        "the oracle shares the export's CTE chain verbatim): seen "
        "trigrams cost their stored nlp3; count-pruned ones back off "
        "through the stored (w1,w2) context weight to the bigram row "
        "(n_backoff audits how often — nonzero by construction at "
        "prune3=2). Five keyed LEFT joins of the per-doc trigram "
        "count table against a type-bounded model; integer micro-nat "
        "order-free sums. ops/lm.kn3_doc_scores / KN3_COST.",
    tags=("retrieval", "text", "ml", "north-star"),
)
def kn_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import kn3_doc_scores
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (kn3_doc_scores(d, prune3=2)
            .select("doc_id", "n_trigrams", "n_backoff", "nll3_micro",
                    "avg_nll3_micro")
            .orderBy("doc_id"))


# the model chain over the EVEN-doc training split only (the one
# `FROM documents` in the shared chain is wt's)
_KN3_CTES_EVEN = _KN3_CTES.replace(
    "FROM documents", "FROM documents WHERE doc_id % 2 = 0")


@register(
    "kn_heldout_perplexity",
    sql=f"""
    WITH {_KN3_CTES_EVEN}, o3 AS (
        SELECT w1, w2, w3, nlp_micro AS nlp3 FROM ord3
    ), o2 AS (
        SELECT w1 AS a, w2 AS b, nlp_micro AS nlp2, bow_micro AS bw
        FROM ord2
    ), o1 AS (
        SELECT w1 AS u, nlp_micro AS nlp1, bow_micro AS b1 FROM ord1
    ), wto AS (
        SELECT doc_id, {{DW}} AS w FROM documents WHERE doc_id % 2 = 1
    ), dtg AS (
        SELECT doc_id, w[i.i] AS w1, w[i.i + 1] AS w2, w[i.i + 2] AS w3
        FROM wto, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) i
        WHERE len(w) >= 3
    ), dpc AS (
        SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS n_local
        FROM dtg GROUP BY doc_id, w1, w2, w3
    ), sc3 AS (
        SELECT d.doc_id, d.n_local, o3.nlp3, s.nlp2, p.bw AS bow2,
               u1.nlp1, ub.b1 AS bow1, t2t.t2
        FROM dpc d
        LEFT JOIN o3 ON o3.w1 = d.w1 AND o3.w2 = d.w2 AND o3.w3 = d.w3
        LEFT JOIN o2 s ON s.a = d.w2 AND s.b = d.w3
        LEFT JOIN o2 p ON p.a = d.w1 AND p.b = d.w2
        LEFT JOIN o1 u1 ON u1.u = d.w3
        LEFT JOIN o1 ub ON ub.u = d.w2
        CROSS JOIN t2t
    ), costed AS (
        SELECT doc_id, n_local,
               {KN3_COST} AS cost,
               CASE WHEN nlp3 IS NULL THEN 1 ELSE 0 END AS backoff,
               CASE WHEN nlp3 IS NULL AND nlp2 IS NULL AND nlp1 IS NULL
                    THEN 1 ELSE 0 END AS oov
        FROM sc3
    )
    SELECT doc_id,
           CAST(sum(n_local) AS BIGINT) AS n_trigrams,
           CAST(sum(backoff * n_local) AS BIGINT) AS n_backoff,
           CAST(sum(oov * n_local) AS BIGINT) AS n_oov,
           CAST(sum(cost * n_local) AS BIGINT) AS nll3_micro,
           CAST(sum(cost * n_local) // sum(n_local) AS BIGINT)
               AS avg_nll3_micro
    FROM costed GROUP BY doc_id ORDER BY doc_id
    """.replace("{DW}", _DUCK_WORDS),
    doc="HELD-OUT trigram-KN perplexity — the CCNet corpus-gating "
        "shape (Wenzek et al. 2020: score crawl docs under an LM "
        "trained on a clean reference): the ARPA model is built from "
        "the EVEN doc_ids only and the ODD docs are scored against it "
        "through the full backoff chain — unseen trigrams route "
        "through the stored context weight, unseen bigrams "
        "double-back-off to the continuation unigram, out-of-"
        "vocabulary words cost the <unk> floor ln(N1+(..)+1); missing "
        "backoff contexts contribute bow 1 (the ARPA missing-context "
        "rule, coalesce in KN3_COST). n_backoff / n_oov make the miss "
        "rates auditable per doc. ops/lm.kn3_heldout_scores.",
    tags=("retrieval", "text", "ml", "north-star"),
)
def kn_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import kn3_heldout_scores
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (kn3_heldout_scores(d.filter("doc_id % 2 = 0"),
                               d.filter("doc_id % 2 = 1"), prune3=2)
            .select("doc_id", "n_trigrams", "n_backoff", "n_oov",
                    "nll3_micro", "avg_nll3_micro")
            .orderBy("doc_id"))


@register(
    "arpa_model_card",
    sql=f"""
    WITH {_KN3_CTES}, allrows AS (
        SELECT * FROM ord1 UNION ALL SELECT * FROM ord2
        UNION ALL SELECT * FROM ord3
    )
    SELECT CAST(ord AS INT) AS ord,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n) AS BIGINT) AS count_mass,
           CAST(count(nlp_micro) AS BIGINT) AS n_scored,
           CAST(sum(nlp_micro) // count(nlp_micro) AS BIGINT)
               AS mean_nlp_micro,
           CAST(sum(CASE WHEN bow_micro = 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bow_passthrough
    FROM allrows GROUP BY ord ORDER BY ord
    """,
    doc="The exported model's own data card — the per-order summary a "
        "KenLM build prints (n-gram counts line of the ARPA header, "
        "plus health columns): rows per section, raw count mass, how "
        "many rows carry a probability (ord-2 pure-context rows do "
        "not), mean stored cost in micro-nats, and how many contexts "
        "back off with weight 1 (pass-through). Three rows off one "
        "grouped aggregate over the model table — the sanity check a "
        "pipeline runs before shipping the LM to its perplexity "
        "gates. ops/lm.kn3_arpa.",
    tags=("retrieval", "text", "ml"),
)
def arpa_model_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.lm import kn3_arpa, trigram_count_table
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    arpa = kn3_arpa(trigram_count_table(d), prune3=2)
    return (arpa.groupBy(F.col("ord").cast("int").alias("ord"))
                .agg(F.count("*").cast("long").alias("n_rows"),
                     F.sum("n").cast("long").alias("count_mass"),
                     F.count("nlp_micro").cast("long").alias("n_scored"),
                     F.expr("CAST(sum(nlp_micro) div count(nlp_micro) "
                            "AS BIGINT)").alias("mean_nlp_micro"),
                     F.sum((F.col("bow_micro") == BOW_PASSTHROUGH)
                           .cast("long"))
                      .cast("long").alias("n_bow_passthrough"))
                .orderBy("ord"))

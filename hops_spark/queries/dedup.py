"""Deduplication inventory queries (north-star; `documents` table).

The MinHash/SimHash hashes are md5-based so DuckDB recomputes identical
signatures — the oracle mirrors the full LSH pipeline, not just counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hops_spark.io.readers import load_table
from hops_spark.ops import dedup as D
from hops_spark.ops.graph import dedup_cluster_labels
from hops_spark.queries.textops import (_DUCK_WORDS, DUCK_SHINGLES_OF_W,
                                        _duck_sw_list)
from hops_spark.registry import register

N_HASHES = 16
BANDS = 4
SHINGLE_N = 3
THRESHOLD = 0.8


@register(
    "dedup_exact",
    sql="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    ORDER BY doc_id
    """,
    doc="Exact dedup: keep smallest doc_id per identical text "
        "(hash-aggregate; reference idiom sort+emit-once).",
    tags=("dedup", "north-star"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy("text")
             .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
             .select("doc_id", "n_copies")
             .orderBy("doc_id"))


def _duck_sigs_cte(where: str = "") -> str:
    """Shared CTE: shingle rows with 28-bit md5 hash + per-doc signature
    mins — mirrors ops/dedup.shingle_rows / minhash_signatures."""
    mins = ", ".join(
        f"min((({a} * h) + {b}) % {D.MERSENNE31}) AS s{i}"
        for i, (a, b) in enumerate(D.minhash_coeffs(N_HASHES)))
    return f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents {where}
    ), sht AS (
        SELECT doc_id, list_distinct({DUCK_SHINGLES_OF_W}) AS sh FROM wt
    ), srows AS (
        SELECT doc_id, shingle,
               ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS h
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM sht)
    ), sigs AS (
        SELECT doc_id, {mins}, count(*) AS set_size
        FROM srows GROUP BY doc_id
    )
"""


_DUCK_SIGS_CTE = _duck_sigs_cte()
_SIG_STRING = " || '|' || ".join(f"CAST(s{i} AS VARCHAR)"
                                 for i in range(N_HASHES))


@register(
    "minhash_signatures",
    sql=_DUCK_SIGS_CTE + f"""
    SELECT doc_id, {_SIG_STRING} AS signature FROM sigs ORDER BY doc_id
    """,
    doc="MinHash signatures: one md5 per shingle → 28-bit int → 16 affine "
        "permutations mod 2^31-1 → per-doc min (single shuffle, map-side "
        "partial min). Identical integer arithmetic in DuckDB; presented "
        "as a '|'-joined string (driver canonicalizer needs scalars).",
    tags=("dedup", "north-star"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(d, "doc_id", "text", N_HASHES, SHINGLE_N)
    return D.signature_string(sigs, "doc_id", N_HASHES).orderBy("doc_id")


def _duck_band_structs() -> str:
    r = N_HASHES // BANDS
    bands = []
    for b in range(BANDS):
        cols = " || '|' || ".join(f"CAST(s{i} AS VARCHAR)"
                                  for i in range(b * r, (b + 1) * r))
        bands.append(f"{{'band': {b}, 'bhash': md5({cols})}}")
    return "[" + ", ".join(bands) + "]"


# CTE chain (appended to _DUCK_SIGS_CTE) yielding `verified(id_a, id_b,
# jaccard)` — the full LSH pipeline; reused by the clean-corpus pipeline.
DUCK_MINHASH_VERIFIED_CTE = f"""
    , bands AS (
        SELECT doc_id, b.band AS band, b.bhash AS bhash
        FROM (SELECT doc_id, unnest({_duck_band_structs()}) AS b FROM sigs)
    ), bok AS (
        -- mirror minhash_candidate_pairs' skew cap (max_bucket=1000)
        SELECT band, bhash FROM bands GROUP BY band, bhash
        HAVING count(*) BETWEEN 2 AND 1000
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band, bhash) JOIN bok USING (band, bhash)
        WHERE a.doc_id < b.doc_id
    ), inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN srows ra ON ra.doc_id = c.id_a
        JOIN srows rb ON rb.doc_id = c.id_b AND rb.shingle = ra.shingle
        GROUP BY c.id_a, c.id_b
    ), verified AS (
        SELECT c.id_a, c.id_b,
               round(coalesce(i.inter, 0)
                     / (za.set_size + zb.set_size - coalesce(i.inter, 0)), 6) AS jaccard
        FROM cand c
        LEFT JOIN inter i USING (id_a, id_b)
        JOIN sigs za ON za.doc_id = c.id_a
        JOIN sigs zb ON zb.doc_id = c.id_b
        WHERE coalesce(i.inter, 0)
              / (za.set_size + zb.set_size - coalesce(i.inter, 0)) >= {THRESHOLD}
    )
"""


@register(
    "minhash_dedup_pairs",
    sql=_DUCK_SIGS_CTE + DUCK_MINHASH_VERIFIED_CTE + """
    SELECT id_a, id_b, jaccard FROM verified ORDER BY id_a, id_b
    """,
    doc="MinHash+LSH near-dup pipeline: integer signatures → banded "
        "buckets → candidate pairs → exact-Jaccard verify ≥ 0.8, fully "
        "relational (shingle-row joins, no array intersections). No "
        "all-pairs product anywhere (scale path).",
    tags=("dedup", "north-star", "flagship"),
)
def minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                  SHINGLE_N, THRESHOLD)
             .orderBy("id_a", "id_b"))


DR_MOD = 5   # recall-eval sample: md5(doc_id) % 5 == 0 (~20%)

_DR_WHERE = ("WHERE ('0x' || substring(md5('dr|' || "
             "CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % "
             f"{DR_MOD} = 0")


@register(
    "lsh_recall_eval",
    sql=_duck_sigs_cte(_DR_WHERE) + DUCK_MINHASH_VERIFIED_CTE + f"""
    , tinter AS (
        SELECT ra.doc_id AS id_a, rb.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM srows ra
        JOIN srows rb ON ra.shingle = rb.shingle
                     AND ra.doc_id < rb.doc_id
        GROUP BY 1, 2
    ), tpairs AS (
        SELECT t.id_a, t.id_b
        FROM tinter t
        JOIN sigs za ON za.doc_id = t.id_a
        JOIN sigs zb ON zb.doc_id = t.id_b
        WHERE round(t.inter
                    / CAST(za.set_size + zb.set_size - t.inter AS DOUBLE),
                    6) >= {THRESHOLD}
    ), counts AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM sigs) AS n_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM tpairs) AS n_true,
               (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
               (SELECT CAST(count(*) AS BIGINT) FROM verified) AS n_pred
    )
    SELECT n_docs, n_true, n_cand, n_pred,
           CAST(CASE WHEN n_true = 0 THEN 1000000
                     ELSE (n_pred * 1000000) // n_true END AS BIGINT)
               AS recall_ppm,
           CAST(CASE WHEN n_cand = 0 THEN 0
                     ELSE (n_pred * 1000000) // n_cand END AS BIGINT)
               AS cand_yield_ppm
    FROM counts
    """,
    doc="LSH recall evaluation for the near-dup pipeline (the dedup "
        "counterpart of knn_recall/mp_recall_curve): on a ~20% "
        "deterministic md5 sample, ground truth is the EXACT "
        "shingle-join Jaccard over every sample pair, compared against "
        "the production banding+cap+verify pipeline at the same "
        "threshold. Output: one row — sample size, true/candidate/"
        "predicted pair counts (n_docs = sampled docs with >= 1 "
        "shingle, the pairable population on both engines), recall "
        "(verify makes precision 1 by "
        "construction, so recall IS the banding+cap miss rate) and "
        "candidate yield (verified per candidate — the banding "
        "selectivity a tuner trades against recall). The exact truth "
        "join is quadratic-leaning BY DESIGN and bounded to the "
        "sample; production fixes the absolute sample size where this "
        "fixture-scale query fixes the rate.",
    tags=("dedup", "approx", "north-star"),
)
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.lit("dr|"), F.col("doc_id").cast("string"))),
            1, 7), 16, 10).cast("long"),
        F.lit(DR_MOD))
    sample = d.filter(h == 0).select("doc_id", "text")
    # shingle rows feed the truth self-join (both sides), sizes, and
    # the verify stage — materialize once (sample-bounded)
    rows = D.shingle_rows(sample, "doc_id", "text", SHINGLE_N) \
            .localCheckpoint(eager=True)
    sizes = rows.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("set_size"))
    ra = rows.select(F.col("doc_id").alias("id_a"), "shingle")
    rb = rows.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (ra.join(rb, "shingle")
               .filter(F.col("id_a") < F.col("id_b"))
               .groupBy("id_a", "id_b")
               .agg(F.count("*").cast("long").alias("inter")))
    truth = (inter
             .join(sizes.select(F.col("doc_id").alias("id_a"),
                                F.col("set_size").alias("sa")), "id_a")
             .join(sizes.select(F.col("doc_id").alias("id_b"),
                                F.col("set_size").alias("sb")), "id_b")
             .filter(F.round(F.col("inter")
                             / (F.col("sa") + F.col("sb") - F.col("inter")),
                             6) >= THRESHOLD))
    sigs = D.minhash_signatures(sample, "doc_id", "text",
                                N_HASHES, SHINGLE_N)
    cand = D.minhash_candidate_pairs(sigs, "doc_id", N_HASHES, BANDS) \
            .localCheckpoint(eager=True)     # counted AND verified
    pred = D.jaccard_verify(cand, rows, sizes, "doc_id", THRESHOLD)
    # n_docs counts docs WITH >= 1 shingle (the population that can
    # pair — matches the oracle's sigs CTE; a < SHINGLE_N-word doc in
    # the sample would otherwise diverge Spark-vs-DuckDB)
    nd = sizes.agg(F.count("*").cast("long").alias("n_docs"))
    nt = truth.agg(F.count("*").cast("long").alias("n_true"))
    nc = cand.agg(F.count("*").cast("long").alias("n_cand"))
    npred = pred.agg(F.count("*").cast("long").alias("n_pred"))
    out = (nd.crossJoin(F.broadcast(nt))
             .crossJoin(F.broadcast(nc))
             .crossJoin(F.broadcast(npred)))
    return out.select(
        "n_docs", "n_true", "n_cand", "n_pred",
        F.expr("CAST(CASE WHEN n_true = 0 THEN 1000000 "
               "ELSE (n_pred * 1000000) div n_true END AS BIGINT)")
         .alias("recall_ppm"),
        F.expr("CAST(CASE WHEN n_cand = 0 THEN 0 "
               "ELSE (n_pred * 1000000) div n_cand END AS BIGINT)")
         .alias("cand_yield_ppm"))


def _duck_simhash_sql(bits: int = 32) -> str:
    votes = []
    for j in range(bits):
        nib = f"(strpos('0123456789abcdef', substring(h, {j // 4 + 1}, 1)) - 1)"
        bit = f"((({nib}) // {2 ** (3 - (j % 4))}) % 2)"
        votes.append(f"sum({bit} * 2 - 1) AS v{j}")
    total = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(bits))
    return f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), toks AS (
        SELECT doc_id, md5(unnest(list_distinct(w))) AS h FROM wt
    ), votes AS (
        SELECT doc_id, {", ".join(votes)} FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST({total} AS BIGINT) AS simhash
    FROM votes ORDER BY doc_id
    """


@register(
    "simhash_signatures",
    sql=_duck_simhash_sql(32),
    doc="32-bit SimHash per document (md5-nibble bit votes over distinct "
        "word unigrams) — identical arithmetic in DuckDB.",
    tags=("dedup", "north-star"),
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_table(d, "doc_id", "text", 32).orderBy("doc_id")


@register(
    "simhash_near_pairs",
    sql=f"""
    WITH sims AS ({_duck_simhash_sql(32)}),
    ch AS (
        SELECT doc_id, simhash, t, (simhash >> (t * 8)) & 255 AS chunk
        FROM sims, (VALUES (0), (1), (2), (3)) AS tt(t)
    ), ok AS (
        -- mirror the Spark-side skew cap: buckets beyond max_bucket=1000
        -- are dropped (they DO trigger at sf0.1 on this near-identical
        -- synthetic corpus, so the cap is part of the op's semantics,
        -- not an invisible guard)
        SELECT t, chunk FROM ch GROUP BY t, chunk
        HAVING count(*) BETWEEN 2 AND 1000
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sa, b.simhash AS sb
        FROM ch a JOIN ch b USING (t, chunk) JOIN ok USING (t, chunk)
        WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY id_a, id_b
    """,
    doc="SimHash near-dup pairs: chunk-blocked candidates (bucket cap "
        "1000 mirrored in the oracle), exact hamming verify ≤ 3 "
        "(pigeonhole: d<4 pairs share one of 4 chunks). Full value-hash "
        "oracle (DuckDB bit_count/xor mirror).",
    tags=("dedup", "north-star"),
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (D.simhash_near_pairs(d, "doc_id", "text", bits=32, max_hamming=3,
                                 n_tables=4)
             .orderBy("id_a", "id_b"))


@register(
    "ngram_jaccard_pairs",
    sql=_DUCK_SIGS_CTE + f"""
    , sok AS (
        -- mirror the hot-shingle prune (max_shingle_freq=10000)
        SELECT shingle FROM srows GROUP BY shingle
        HAVING count(*) BETWEEN 2 AND 10000
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM srows a JOIN srows b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN sok ON sok.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(i.inter / (za.set_size + zb.set_size - i.inter), 6) AS jaccard
    FROM inter i
    JOIN sigs za ON za.doc_id = i.id_a
    JOIN sigs zb ON zb.doc_id = i.id_b
    WHERE i.inter / (za.set_size + zb.set_size - i.inter) >= {THRESHOLD}
    ORDER BY id_a, id_b
    """,
    doc="Exact n-gram Jaccard similarity join over ALL docs — relational "
        "shingle-row self-join (only pairs sharing a shingle are "
        "materialized; hot shingles pruned). Ground truth for minhash: "
        "at threshold 0.8 its output must equal minhash_dedup_pairs' "
        "(perfect recall of the LSH path).",
    tags=("dedup", "north-star"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (D.ngram_jaccard_pairs(d, "doc_id", "text", SHINGLE_N, THRESHOLD)
             .orderBy("id_a", "id_b"))


@register(
    "dedup_clusters",
    sql=(_DUCK_SIGS_CTE + DUCK_MINHASH_VERIFIED_CTE).replace(
        "WITH wt", "WITH RECURSIVE wt", 1) + """
    , und AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION SELECT id_b, id_a FROM verified
    ), reach AS (
        -- transitive closure: fine at oracle scale (pairs are few);
        -- the Spark side uses O(log n) large-star/small-star instead
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        WHERE r.a <> u.b
    ), lab AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           coalesce(l.cluster_id, d.doc_id) AS cluster_id,
           (coalesce(l.cluster_id, d.doc_id) = d.doc_id) AS is_kept
    FROM documents d LEFT JOIN lab l USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Near-dup CLUSTERS (not just pairs): connected components of the "
        "minhash similarity graph via alternating large-star/small-star "
        "(Kiveris et al. SoCC'14 — O(log n) rounds, one groupBy shuffle "
        "per round, edge-set-only state), then keep-min-per-component. "
        "Oracle recomputes components by recursive-CTE closure.",
    tags=("dedup", "north-star", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                  SHINGLE_N, THRESHOLD)
    return (dedup_cluster_labels(d.select("doc_id"), pairs)
            .select("doc_id", "cluster_id", "is_kept")
            .orderBy("doc_id"))


@register(
    "soft_dedup_weights",
    sql=(_DUCK_SIGS_CTE + DUCK_MINHASH_VERIFIED_CTE).replace(
        "WITH wt", "WITH RECURSIVE wt", 1) + """
    , und AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION SELECT id_b, id_a FROM verified
    ), reach AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        WHERE r.a <> u.b
    ), lab AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a
    ), base AS (
        SELECT d.doc_id,
               coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN lab l USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS n_members,
           CAST(1000000 // count(*) OVER (PARTITION BY cluster_id)
               AS BIGINT) AS weight_ppm
    FROM base
    ORDER BY doc_id
    """,
    doc="SOFT dedup (drop-free reweighting): every doc keeps weight "
        "1/|near-dup cluster| in integer ppm — the training-data "
        "alternative to hard removal (duplicated content contributes "
        "one document's worth of gradient mass in aggregate instead "
        "of being cut; the SoftDeDup idea). Rides the same "
        "large-star/small-star components as dedup_clusters plus ONE "
        "keyed count + broadcast-back join; singletons weigh "
        "1,000,000. Feeds pps_sample/token-budget selection as the "
        "weight column.",
    tags=("dedup", "north-star", "graph", "sampling"),
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                  SHINGLE_N, THRESHOLD)
    labels = dedup_cluster_labels(d.select("doc_id"), pairs) \
        .select("doc_id", "cluster_id")
    # window count over cluster_id (exactly the oracle's count(*) OVER)
    # instead of a groupBy + broadcast-back join: one shuffle fewer,
    # and no driver-side broadcast of a ~#docs-row sizes table (almost
    # every cluster is a singleton, so |sizes| ~ |corpus| — a driver
    # OOM at 100 TB, not just a local cost) (r13, guide §2.1/§5.2)
    from pyspark.sql.window import Window
    wcl = Window.partitionBy("cluster_id")
    return (labels.withColumn("n_members",
                              F.count("*").over(wcl).cast("long"))
                  .select("doc_id", "cluster_id", "n_members",
                          F.expr("1000000 div n_members")
                           .alias("weight_ppm"))
                  .orderBy("doc_id"))


@register(
    "cluster_safe_split",
    sql=(_DUCK_SIGS_CTE + DUCK_MINHASH_VERIFIED_CTE).replace(
        "WITH wt", "WITH RECURSIVE wt", 1) + """
    , und AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION SELECT id_b, id_a FROM verified
    ), reach AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        WHERE r.a <> u.b
    ), lab AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a
    ), base AS (
        SELECT d.doc_id,
               coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN lab l USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           CASE WHEN h < 900000 THEN 'train'
                WHEN h < 950000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 (('0x' || substring(md5('csplit|'
                      || CAST(cluster_id AS VARCHAR)), 1, 7))::BIGINT
                  % 1000000) AS h
          FROM base)
    ORDER BY doc_id
    """,
    doc="CLUSTER-SAFE train/val/test split: the hash bucket is taken "
        "over the near-dup CLUSTER id, not the doc id, so a near-dup "
        "pair can never straddle train and test (the leakage mode a "
        "per-doc split like dataset_split_stats cannot rule out — a "
        "one-word-edited copy of a test doc landing in train). Rides "
        "the dedup_clusters components + one map-only hash; membership "
        "is deterministic across engines, runs, and corpus growth "
        "within a cluster.",
    tags=("dedup", "sampling", "north-star"),
)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                  SHINGLE_N, THRESHOLD)
    labels = dedup_cluster_labels(d.select("doc_id"), pairs) \
        .select("doc_id", "cluster_id")
    h = (F.conv(F.substring(F.md5(F.concat(
            F.lit("csplit|"), F.col("cluster_id").cast("string"))), 1, 7),
         16, 10).cast("long") % 1_000_000)
    return (labels.withColumn("_h", h)
                  .select("doc_id", "cluster_id",
                          F.when(F.col("_h") < 900_000, "train")
                           .when(F.col("_h") < 950_000, "val")
                           .otherwise("test").alias("split"))
                  .orderBy("doc_id"))


@register(
    "decontaminate",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, source, {_DUCK_WORDS} AS w FROM documents
    ), sht AS (
        SELECT doc_id, source, list_distinct({DUCK_SHINGLES_OF_W}) AS sh FROM wt
    ), crows AS (
        SELECT doc_id, unnest(sh) AS shingle FROM sht WHERE source <> 'src0'
    ), bsh AS (
        SELECT DISTINCT unnest(sh) AS shingle FROM sht WHERE source = 'src0'
    )
    SELECT c.doc_id, count(*) AS n_overlap, count(*) >= 3 AS contaminated
    FROM crows c JOIN bsh USING (shingle)
    GROUP BY c.doc_id
    ORDER BY doc_id
    """,
    doc="Benchmark decontamination (training-data hygiene): corpus docs "
        "sharing n-gram shingles with the benchmark set (src0 stands in "
        "for the eval suite), flagged at >= 3 distinct shared shingles. "
        "Benchmark shingle set broadcasts; corpus side streams map-only; "
        "no pair materialization (reduces per doc, not per doc-pair).",
    tags=("dedup", "north-star"),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    return (D.contamination_flags(corpus, bench, "doc_id", "text",
                                  shingle_n=3, min_overlap=3)
             .orderBy("doc_id"))


DECON_BLOOM_M = 1 << 16    # bloom bits (32 KB mask); 2^27 in production
DECON_BLOOM_K = 4


@register(
    "decontaminate_bloom",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, source, {_DUCK_WORDS} AS w FROM documents
    ), sht AS (
        SELECT doc_id, source, list_distinct({DUCK_SHINGLES_OF_W}) AS sh FROM wt
    ), crows AS (
        SELECT doc_id, unnest(sh) AS shingle FROM sht WHERE source <> 'src0'
    ), bsh AS (
        SELECT DISTINCT unnest(sh) AS shingle FROM sht WHERE source = 'src0'
    )
    SELECT c.doc_id, count(*) AS n_overlap, count(*) >= 2 AS contaminated
    FROM crows c JOIN bsh USING (shingle)
    GROUP BY c.doc_id
    ORDER BY doc_id
    """,
    doc="Bloom-prefiltered decontamination (the 100 TB regime where the "
        "benchmark shingle set exceeds the broadcast cap): benchmark "
        "shingles compress to a fixed m-bit bloom bitmask evaluated "
        "map-side in the corpus scan; only bloom survivors reach the "
        "exact verification join, which removes every false positive — "
        "so the ORACLE IS THE EXACT SEMANTICS (the bloom is invisible "
        "in the result, only in the plan). Flags at >= 2 shared "
        "shingles (the stricter hygiene threshold).",
    tags=("dedup", "north-star"),
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    return (D.contamination_flags_bloom(corpus, bench, "doc_id", "text",
                                        shingle_n=3, min_overlap=2,
                                        m=DECON_BLOOM_M, k=DECON_BLOOM_K)
             .orderBy("doc_id"))


DUP_SPAN_K = 8


@register(
    "dup_spans",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), grams AS (
        SELECT doc_id, (i.i - 1)::BIGINT AS pos,
               md5(array_to_string(w[i.i : i.i + {DUP_SPAN_K - 1}], ' ')) AS h
        FROM wt, LATERAL (SELECT unnest(range(1,
                 greatest(len(w) - {DUP_SPAN_K - 1}, 0) + 1)) AS i) i
    ), hot AS (
        SELECT h FROM grams GROUP BY h HAVING count(*) >= 2
    ), dup AS (
        SELECT g.doc_id, g.pos FROM grams g JOIN hot USING (h)
    ), flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
                    THEN 0 ELSE 1 END AS newf
        FROM dup
    ), sp AS (
        SELECT doc_id, pos,
               sum(newf) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS span
        FROM flagged
    )
    SELECT doc_id, min(pos) AS span_start,
           (max(pos) + {DUP_SPAN_K - 1})::BIGINT AS span_end,
           (max(pos) + {DUP_SPAN_K - 1} - min(pos) + 1)::BIGINT AS span_tokens
    FROM sp GROUP BY doc_id, span
    ORDER BY doc_id, span_start
    """.replace("{DW}", _DUCK_WORDS),
    doc="Exact-substring dedup spans (Lee et al. 2022 as k-gram "
        "fingerprints): maximal token runs whose every 8-gram repeats "
        "corpus-wide. Map-only gram emit, one count aggregate, LEFT SEMI "
        "join (hot boilerplate grams select, never multiply), per-doc "
        "gaps-and-islands window. Oracle replays the identical pipeline.",
    tags=("dedup", "north-star"),
)
def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (D.duplicate_spans(d, "doc_id", "text", DUP_SPAN_K, 2)
             .orderBy("doc_id", "span_start"))


SUFFIX_SPAN_L = 8      # min duplicate length (tokens); 50 in production
SUFFIX_SPAN_C = 12     # suffix-key truncation cap (tokens), >= L

# Shared CTE chain: the full suffix-sort -> neighbor-LCP -> interval
# union replay, ending in spans(doc_id, span_start, span_end). One
# string, two consumers (exact_substring_spans, span_excised_corpus) —
# the never-write-a-constant-twice rule applied to a whole pipeline.
_SUFFIX_SPANS_CTES = f"""
    WITH wt AS (
        SELECT doc_id, {{DW}} AS w FROM documents
    ), suf AS (
        SELECT doc_id, (i.i - 1)::BIGINT AS pos,
               w[i.i : i.i + {SUFFIX_SPAN_C - 1}] AS skey
        FROM wt, LATERAL (SELECT unnest(range(1,
                 greatest(len(w) - {SUFFIX_SPAN_L - 1}, 0) + 1)) AS i) i
    ), rk AS (
        SELECT doc_id, pos, skey,
               row_number() OVER (ORDER BY skey, doc_id, pos) AS r
        FROM suf
    ), adj AS (
        SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb,
               coalesce(
                   list_filter(range(1, least(len(a.skey), len(b.skey)) + 1),
                               i -> a.skey[i] <> b.skey[i])[1] - 1,
                   least(len(a.skey), len(b.skey)))::BIGINT AS lcp
        FROM rk a JOIN rk b ON b.r = a.r + 1
    ), hits AS (
        SELECT da AS doc_id, pa AS pos, lcp FROM adj
        UNION ALL
        SELECT db AS doc_id, pb AS pos, lcp FROM adj
    ), dup AS (
        SELECT doc_id, pos, max(lcp) AS dup_len
        FROM hits GROUP BY doc_id, pos
        HAVING max(lcp) >= {SUFFIX_SPAN_L}
    ), iv AS (
        SELECT doc_id, pos, pos + dup_len - 1 AS e FROM dup
    ), fl AS (
        SELECT doc_id, pos, e,
               CASE WHEN pos > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -2) + 1
                    THEN 1 ELSE 0 END AS newf
        FROM iv
    ), sp AS (
        SELECT doc_id, pos, e,
               sum(newf) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
        FROM fl
    ), spans AS (
        SELECT doc_id, min(pos) AS span_start, max(e) AS span_end
        FROM sp GROUP BY doc_id, island
    )
""".replace("{DW}", _DUCK_WORDS)


@register(
    "exact_substring_spans",
    sql=_SUFFIX_SPANS_CTES + """
    SELECT doc_id, span_start, span_end,
           (span_end - span_start + 1) AS span_tokens
    FROM spans
    ORDER BY doc_id, span_start
    """,
    doc="EXACT-substring duplicate spans, suffix-array grade (Lee et "
        "al. 2022 §4.2 ExactSubstr): maximal token ranges occurring "
        ">= 2 times corpus-wide at >= 8 tokens, collision-free (no "
        "hashing) and with interval-union merge semantics — the "
        "suffix order distributes as TotalOrderPartitioner-over-"
        "suffixes (sampled range partitioning + two-phase rank), "
        "adjacent-rank token-LCP bounds each position's duplicated "
        "prefix, and a per-doc gaps-and-islands window unions the "
        "[pos, pos+dup_len) windows. The oracle replays the identical "
        "suffix sort + neighbor-LCP relationally; the result is "
        "sort-tie independent, so both engines agree bit-for-bit. "
        "ops/dedup.suffix_dup_spans.",
    tags=("dedup", "north-star"),
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # dict_encode=False explicitly: at oracle/bench SF the corpus sits
    # far below SUFFIX_DICT_TOKENS and the string path wins (SCALE.md
    # note 88); pinning it also skips the auto-probe's two tiny jobs
    return (D.suffix_dup_spans(d, "doc_id", "text",
                               SUFFIX_SPAN_L, SUFFIX_SPAN_C,
                               dict_encode=False)
             .orderBy("doc_id", "span_start"))


@register(
    "span_excised_corpus",
    sql=_SUFFIX_SPANS_CTES + """
    , sp_agg AS (
        SELECT doc_id,
               list(struct_pack(s := span_start, e := span_end)) AS spl
        FROM spans GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           (n_tokens - len(keep))::BIGINT AS n_cut,
           -- array_to_string of an EMPTY list is NULL in DuckDB where
           -- Spark's concat_ws gives '' — coalesce so fully-excised
           -- docs hash md5('') in both engines
           md5(coalesce(
               array_to_string(list_transform(keep, i -> w[i + 1]), ' '),
               '')) AS clean_md5
    FROM (
        SELECT wt.doc_id, wt.w, len(wt.w)::BIGINT AS n_tokens,
               list_filter(range(0, len(wt.w)),
                   i -> NOT coalesce(
                       len(list_filter(sp_agg.spl,
                           s -> i >= s.s AND i <= s.e)) > 0, FALSE))
                   AS keep
        FROM wt LEFT JOIN sp_agg USING (doc_id)
    )
    ORDER BY doc_id
    """,
    doc="Duplicate-span EXCISION — the cleaning step completing the "
        "ExactSubstr pipeline (Lee et al. 2022): every maximal "
        "duplicate range found by the suffix-sort pass is cut from "
        "its document and the text reassembled from the surviving "
        "tokens. Spans aggregate to one bounded array per doc "
        "(merged maximal intervals), so the excision is a single "
        "narrow array-side projection — no per-token shuffle. Output "
        "proves the cut arithmetic (n_tokens/n_cut) AND the exact "
        "rebuilt text via its md5, hash-matched against the oracle's "
        "full relational replay of spans + excision. "
        "ops/dedup.excise_spans over ops/dedup.suffix_dup_spans.",
    tags=("dedup", "north-star", "pipeline"),
)
def span_excised_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    spans = D.suffix_dup_spans(d, "doc_id", "text",
                               SUFFIX_SPAN_L, SUFFIX_SPAN_C,
                               dict_encode=False)
    return (D.excise_spans(d, spans, "doc_id", "text")
             .withColumn("clean_md5", F.md5("clean_text"))
             .select("doc_id", "n_tokens", "n_cut", "clean_md5")
             .orderBy("doc_id"))


@register(
    "dedup_recall",
    sql=(_DUCK_SIGS_CTE + DUCK_MINHASH_VERIFIED_CTE + f"""
    , sok AS (
        SELECT shingle FROM srows GROUP BY shingle
        HAVING count(*) BETWEEN 2 AND 10000
    ), xinter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM srows a JOIN srows b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN sok ON sok.shingle = a.shingle
        GROUP BY 1, 2
    ), exact AS (
        SELECT i.id_a, i.id_b
        FROM xinter i
        JOIN sigs za ON za.doc_id = i.id_a
        JOIN sigs zb ON zb.doc_id = i.id_b
        WHERE i.inter / (za.set_size + zb.set_size - i.inter) >= {THRESHOLD}
    )
    SELECT count(*) AS n_exact,
           CAST(sum(CASE WHEN v.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           CAST(sum(CASE WHEN v.id_a IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // greatest(count(*), 1) AS BIGINT) AS recall_ppm
    FROM exact e
    LEFT JOIN verified v ON v.id_a = e.id_a AND v.id_b = e.id_b
    """),
    doc="Dedup-pipeline eval harness: recall of the MinHash+LSH path "
        "against the exact n-gram-Jaccard ground truth at the same "
        "threshold (integer ppm). Both paths are deterministic, so the "
        "eval itself is a full value-hash oracle — the check a pipeline "
        "runs after retuning bands/hashes.",
    tags=("dedup", "north-star", "eval"),
)
def dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lsh = (D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                 SHINGLE_N, THRESHOLD)
            .select("id_a", "id_b").withColumn("_hit", F.lit(1)))
    exact = (D.ngram_jaccard_pairs(d, "doc_id", "text", SHINGLE_N, THRESHOLD)
              .select("id_a", "id_b"))
    return (exact.join(lsh, ["id_a", "id_b"], "left")
                 .agg(F.count("*").alias("n_exact"),
                      F.sum(F.coalesce("_hit", F.lit(0))).cast("long")
                       .alias("n_found"),
                      F.expr("CAST(sum(coalesce(_hit, 0)) * 1000000 "
                             "div greatest(count(*), 1) AS BIGINT)")
                       .alias("recall_ppm")))


def _duck_sigs_cte_sfx(sfx: str, where: str) -> str:
    """Suffixed signature CTE chain (two corpora in one WITH clause)."""
    mins = ", ".join(
        f"min((({a} * h) + {b}) % {D.MERSENNE31}) AS s{i}"
        for i, (a, b) in enumerate(D.minhash_coeffs(N_HASHES)))
    return f"""
    wt{sfx} AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents {where}
    ), sht{sfx} AS (
        SELECT doc_id, list_distinct({DUCK_SHINGLES_OF_W}) AS sh FROM wt{sfx}
    ), srows{sfx} AS (
        SELECT doc_id, shingle,
               ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS h
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM sht{sfx})
    ), sigs{sfx} AS (
        SELECT doc_id, {mins}, count(*) AS set_size
        FROM srows{sfx} GROUP BY doc_id
    )"""


@register(
    "incremental_dedup",
    sql=f"""
    WITH {_duck_sigs_cte_sfx('_n', "WHERE source <> 'src0'").lstrip()},
    {_duck_sigs_cte_sfx('_e', "WHERE source = 'src0'").lstrip()},
    bn AS (
        SELECT doc_id AS id_new, b.band AS band, b.bhash AS bhash
        FROM (SELECT doc_id, unnest({_duck_band_structs()}) AS b FROM sigs_n)
    ), be AS (
        SELECT doc_id AS id_old, b.band AS band, b.bhash AS bhash
        FROM (SELECT doc_id, unnest({_duck_band_structs()}) AS b FROM sigs_e)
    ), ok AS (
        SELECT band, bhash FROM be GROUP BY band, bhash
        HAVING count(*) <= 1000
    ), cand AS (
        SELECT DISTINCT id_new, id_old
        FROM bn JOIN be USING (band, bhash) JOIN ok USING (band, bhash)
    ), inter AS (
        SELECT c.id_new, c.id_old, count(*) AS inter
        FROM cand c
        JOIN srows_n rn ON rn.doc_id = c.id_new
        JOIN srows_e re ON re.doc_id = c.id_old AND re.shingle = rn.shingle
        GROUP BY 1, 2
    ), near AS (
        SELECT DISTINCT c.id_new AS doc_id
        FROM cand c
        LEFT JOIN inter i USING (id_new, id_old)
        JOIN sigs_n zn ON zn.doc_id = c.id_new
        JOIN sigs_e ze ON ze.doc_id = c.id_old
        WHERE coalesce(i.inter, 0)
              / (zn.set_size + ze.set_size - coalesce(i.inter, 0)) >= {THRESHOLD}
    ), ex AS (
        SELECT DISTINCT md5(text) AS th FROM documents WHERE source = 'src0'
    ), base AS (
        SELECT doc_id, md5(text) AS th FROM documents WHERE source <> 'src0'
    )
    SELECT b.doc_id,
           (ex.th IS NOT NULL) AS exact_dup,
           (nr.doc_id IS NOT NULL) AS near_dup,
           (ex.th IS NULL AND nr.doc_id IS NULL) AS is_kept
    FROM base b
    LEFT JOIN ex ON ex.th = b.th
    LEFT JOIN near nr ON nr.doc_id = b.doc_id
    ORDER BY b.doc_id
    """,
    doc="Incremental dedup: the NEW batch (sources != src0) against the "
        "EXISTING corpus (src0) — exact content-hash semi-join plus "
        "ASYMMETRIC LSH (candidates are new x existing only; an "
        "existing-side bucket cap guards boilerplate). The production "
        "shape: each ingest dedups against what is already kept, never "
        "re-clustering the whole corpus.",
    tags=("dedup", "north-star"),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("source") != "src0")
    existing = d.filter(F.col("source") == "src0")
    return (D.incremental_dedup_flags(new, existing, "doc_id", "text",
                                      N_HASHES, BANDS, SHINGLE_N, THRESHOLD)
             .orderBy("doc_id"))


@register(
    "sentence_dedup",
    sql=r"""
    WITH s AS (
        SELECT doc_id,
               unnest(list_filter(list_transform(
                   string_split_regex(text, '[.!?]+|\s+table\s+'),
                   x -> trim(x)), x -> x <> '')) AS sentence,
               unnest(range(len(list_filter(list_transform(
                   string_split_regex(text, '[.!?]+|\s+table\s+'),
                   x -> trim(x)), x -> x <> '')))) AS sentence_id
        FROM documents
    ), occ AS (
        SELECT doc_id, sentence_id, sentence,
               row_number() OVER (PARTITION BY md5(sentence)
                                  ORDER BY doc_id, sentence_id) AS o
        FROM s
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_sents,
           CAST(count(*) FILTER (WHERE o = 1) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(sentence, ' . ' ORDER BY sentence_id)
                        FILTER (WHERE o = 1), '')) AS clean_hash
    FROM occ GROUP BY doc_id ORDER BY doc_id
    """,
    doc="C4-style cross-corpus span dedup at sentence granularity "
        "(Raffel et al. 2020): every sentence keeps only its first "
        "occurrence in (doc, position) order, documents rebuilt from "
        "survivors in original order. Two keyed shuffles total "
        "(sentence-hash window + doc reassembly); the oracle rebuilds "
        "every cleaned document and hashes it. ops/dedup.sentence_dedup.",
    tags=("text", "dedup", "north-star"),
)
def sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # extra 'table' delimiter: the synthetic fixture has no sentence
    # punctuation, so [.!?] alone yields one unique sentence per doc and
    # a vacuous dedup (same device as the sentence_split query)
    out = D.sentence_dedup(d, split_re=r"[.!?]+|\s+table\s+")
    return (out.select("doc_id", "n_sents", "n_kept",
                       F.md5("clean_text").alias("clean_hash"))
               .orderBy("doc_id"))


# Sentence-boundary regex for boilerplate_strip: the fixture device is
# shared with the clean-corpus CLI (ops/dedup.FIXTURE_SENTENCE_SPLIT).
_BP_SPLIT = D.FIXTURE_SENTENCE_SPLIT
_BP_MIN_DOCS = 3
_BP_MAX_DF_PPM = 100_000


@register(
    "boilerplate_strip",
    sql=rf"""
    WITH s AS (
        SELECT doc_id, source,
               unnest(list_filter(list_transform(
                   string_split_regex(text, '{_BP_SPLIT}'),
                   x -> trim(x)), x -> x <> '')) AS sentence,
               unnest(range(len(list_filter(list_transform(
                   string_split_regex(text, '{_BP_SPLIT}'),
                   x -> trim(x)), x -> x <> '')))) AS sentence_id
        FROM documents
    ), nd AS (
        SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        FROM documents GROUP BY source
    ), sdf AS (
        SELECT source, md5(sentence) AS h,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM s GROUP BY 1, 2
    ), boiler AS (
        SELECT sdf.source, sdf.h
        FROM sdf JOIN nd USING (source)
        WHERE df >= {_BP_MIN_DOCS}
          AND df * 1000000 > {_BP_MAX_DF_PPM} * nd
    ), flagged AS (
        SELECT s.doc_id, s.source, s.sentence_id, s.sentence,
               (b.h IS NOT NULL) AS is_boiler
        FROM s LEFT JOIN boiler b
          ON b.source = s.source AND b.h = md5(s.sentence)
    )
    SELECT doc_id, any_value(source) AS source,
           CAST(count(*) AS BIGINT) AS n_sents,
           CAST(count(*) FILTER (WHERE NOT is_boiler) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(sentence, ' . ' ORDER BY sentence_id)
                        FILTER (WHERE NOT is_boiler), '')) AS clean_hash
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Per-source boilerplate removal (CCNet, Wenzek et al. 2020: "
        "drop paragraphs whose hash repeats across many documents of a "
        "shard — navigation chrome, cookie banners, license footers): "
        "a sentence is boilerplate within its source when >= 3 distinct "
        "docs AND > 10% of the source's docs contain it; EVERY "
        "occurrence is dropped (sentence_dedup keeps the first — "
        "different cleaning contract), documents rebuilt from the "
        "survivors. One explode + two keyed aggregates + one keyed "
        "join; ops/dedup.boilerplate_strip.",
    tags=("text", "dedup", "north-star"),
)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text")
    out = D.boilerplate_strip(d, split_re=_BP_SPLIT,
                              min_docs=_BP_MIN_DOCS,
                              max_df_ppm=_BP_MAX_DF_PPM)
    return (out.select("doc_id", "source", "n_sents", "n_kept",
                       F.md5("clean_text").alias("clean_hash"))
               .orderBy("doc_id"))


@register(
    "ngram_novelty",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct({DUCK_SHINGLES_OF_W})) AS g
        FROM wt
    ), df AS (
        SELECT g, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY g
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS novelty_ppm
    FROM sh JOIN df USING (g)
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id
    """,
    doc="Per-document n-gram novelty: the share of a doc's distinct "
        "3-shingles that appear NOWHERE else in the corpus (document "
        "frequency 1) — the memorization/duplication audit metric "
        "(a doc with near-zero novelty is boilerplate; near-1e6 is "
        "unique content). Shingle df table + one join back, integer "
        "ppm; df is corpus-bounded and the join keys on the shingle "
        "hash at scale.",
    tags=("text", "dedup", "profiling", "north-star"),
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sh = (D.shingle_arrays(d, "doc_id", "text", 3)
            .select("doc_id", F.explode(F.array_distinct("shingle_arr"))
                    .alias("g")))
    df_tab = sh.groupBy("g").agg(F.count("*").alias("df"))
    return (sh.join(df_tab, "g")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_shingles"),
                   F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
                   F.expr("sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) "
                          "* 1000000 div count(*)").cast("long")
                    .alias("novelty_ppm"))
              .orderBy("doc_id"))


@register(
    "cluster_representatives",
    sql=(_DUCK_SIGS_CTE + DUCK_MINHASH_VERIFIED_CTE).replace(
        "WITH wt", "WITH RECURSIVE wt", 1) + """
    , und AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION SELECT id_b, id_a FROM verified
    ), reach AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        WHERE r.a <> u.b
    ), lab AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a
    ), qual AS (
        SELECT doc_id,
               (least(CAST(len(w) AS BIGINT) * 20000, 1000000)
                + (1000000 - least((n_punct * 1000000)
                                   // greatest(n_chars_m, 1) * 5, 1000000))
                + least((n_sw * 1000000) // greatest(len(w), 1) * 4,
                        1000000)
                + (n_uniq * 1000000) // greatest(len(w), 1))
                   AS quality_score_ppm
        FROM (
            SELECT d.doc_id, wt.w,
                   CAST(length(d.text) AS BIGINT) AS n_chars_m,
                   CAST(length(regexp_replace(d.text,
                        '[^!-/:-@\\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct,
                   CAST(len(list_filter(wt.w, x -> list_contains(
                        __SW_LIST__, x))) AS BIGINT) AS n_sw,
                   CAST(len(list_distinct(wt.w)) AS BIGINT) AS n_uniq
            FROM documents d JOIN wt USING (doc_id)
        )
    ), members AS (
        SELECT l.cluster_id, l.doc_id, q.quality_score_ppm
        FROM lab l JOIN qual q USING (doc_id)
    ), reps AS (
        SELECT cluster_id, doc_id, quality_score_ppm,
               row_number() OVER (PARTITION BY cluster_id
                   ORDER BY quality_score_ppm DESC, doc_id) AS rn
        FROM members
    )
    SELECT m.cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN r.rn = 1 THEN r.doc_id END) AS BIGINT)
               AS rep_doc_id,
           CAST(max(CASE WHEN r.rn = 1 THEN r.quality_score_ppm END)
               AS BIGINT) AS rep_quality_ppm,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM members m JOIN reps r
      ON r.cluster_id = m.cluster_id AND r.doc_id = m.doc_id
    GROUP BY m.cluster_id
    ORDER BY m.cluster_id
    """.replace("__SW_LIST__", _duck_sw_list("en")),
    doc="CLUSTER REPRESENTATIVE selection — the 'which copy survives "
        "dedup' step of a training-data pipeline: connected components "
        "of the verified minhash near-dup graph (large-star/small-star "
        "labels), then per cluster keep the HIGHEST-QUALITY member "
        "(C4-style integer-ppm score, ties to the smaller doc_id) "
        "instead of the arbitrary min-id — quality-aware dedup as one "
        "join + one per-cluster argmax window over cluster members "
        "only (cluster sizes are near-dup-bounded, never corpus-"
        "bounded). Oracle recomputes components by recursive closure "
        "and the score relationally.",
    tags=("dedup", "north-star", "graph", "text"),
)
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from hops_spark.ops.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                  SHINGLE_N, THRESHOLD)
    labels = dedup_cluster_labels(d.select("doc_id"), pairs) \
        .select("doc_id", "cluster_id")
    q = quality_score(d.select("doc_id", "text")) \
        .select("doc_id", "quality_score_ppm")
    members = labels.join(q, "doc_id")
    # only true clusters (>= 2 members): mirror the oracle's reach set
    sizes = (members.groupBy("cluster_id")
             .agg(F.count("*").alias("n_members"))
             .filter(F.col("n_members") >= 2))
    m2 = members.join(sizes, "cluster_id")
    w = Window.partitionBy("cluster_id") \
              .orderBy(F.col("quality_score_ppm").desc(), F.col("doc_id"))
    reps = (m2.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1))
    return (reps.select("cluster_id",
                        F.col("n_members").cast("long").alias("n_members"),
                        F.col("doc_id").alias("rep_doc_id"),
                        F.col("quality_score_ppm").cast("long")
                         .alias("rep_quality_ppm"),
                        (F.col("n_members") - 1).cast("long")
                         .alias("n_dropped"))
                .orderBy("cluster_id"))


WJ_THRESHOLD_PPM = 700_000


def _duck_weighted_pairs_sql() -> str:
    """DuckDB oracle for weighted_jaccard_pairs: replays tf rows, the
    capped-expansion MinHash (same interpolated affine coefficients),
    the banded buckets with skew cap, and the exact integer-ppm
    weighted-Jaccard rescore."""
    mins = ", ".join(
        f"min((({a} * h) + {b}) % {D.MERSENNE31}) AS s{i}"
        for i, (a, b) in enumerate(D.minhash_coeffs(N_HASHES)))
    return f"""
    WITH wt AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), trows AS (
        SELECT doc_id, t AS token, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(w) AS t FROM wt)
        GROUP BY doc_id, t
    ), sizes AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS wsize
        FROM trows GROUP BY doc_id
    ), reps AS (
        SELECT doc_id,
               ('0x' || substring(md5(token || '#' || CAST(r AS VARCHAR)),
                                  1, 7))::BIGINT AS h
        FROM (SELECT doc_id, token,
                     unnest(range(least(tf, {D.W_CAP}))) AS r
              FROM trows)
    ), sigs AS (
        SELECT doc_id, {mins} FROM reps GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, b.band AS band, b.bhash AS bhash
        FROM (SELECT doc_id, unnest({_duck_band_structs()}) AS b FROM sigs)
    ), bok AS (
        SELECT band, bhash FROM bands GROUP BY band, bhash
        HAVING count(*) BETWEEN 2 AND 1000
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band, bhash) JOIN bok USING (band, bhash)
        WHERE a.doc_id < b.doc_id
    ), inter AS (
        SELECT c.id_a, c.id_b,
               CAST(sum(least(ra.tf, rb.tf)) AS BIGINT) AS inter
        FROM cand c
        JOIN trows ra ON ra.doc_id = c.id_a
        JOIN trows rb ON rb.doc_id = c.id_b AND rb.token = ra.token
        GROUP BY c.id_a, c.id_b
    ), verified AS (
        SELECT c.id_a, c.id_b,
               CAST((coalesce(i.inter, 0) * 1000000)
                    // (za.wsize + zb.wsize - coalesce(i.inter, 0))
                    AS BIGINT) AS wjac_ppm
        FROM cand c
        LEFT JOIN inter i USING (id_a, id_b)
        JOIN sizes za ON za.doc_id = c.id_a
        JOIN sizes zb ON zb.doc_id = c.id_b
    )
    SELECT id_a, id_b, wjac_ppm FROM verified
    WHERE wjac_ppm >= {WJ_THRESHOLD_PPM}
    ORDER BY id_a, id_b
    """


@register(
    "weighted_jaccard_pairs",
    sql=_duck_weighted_pairs_sql(),
    doc="tf-WEIGHTED Jaccard near-dup pairs (ops/dedup."
        "weighted_jaccard_pairs): per-doc term frequencies -> MinHash "
        "over the capped expansion multiset {token#r : r < min(tf,4)} "
        "(the standard weighted->set Jaccard reduction; same affine "
        "permutations, banding reused verbatim) -> exact integer-ppm "
        "rescore sum(min(tf))/sum(max(tf)) on candidates. Weighted "
        "semantics score by term-frequency MASS, catching repetitive-"
        "boilerplate near-dups that distinct-set Jaccard misses. Two "
        "linear keyed shuffles + one banded bucket shuffle — the "
        "unweighted flagship's scale shape.",
    tags=("dedup", "north-star"),
)
def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (D.weighted_jaccard_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                     WJ_THRESHOLD_PPM)
             .orderBy("id_a", "id_b"))


DECON_SPAN_K = 8       # gram width for substring decontamination
DECON_SPAN_MIN = 12    # min verbatim tokens to flag (50 in production)


@register(
    "decontaminate_spans",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, source, {{DW}} AS w FROM documents
    ), grams AS (
        SELECT doc_id, (i.i - 1)::BIGINT AS pos,
               md5(array_to_string(w[i.i : i.i + {DECON_SPAN_K - 1}], ' ')) AS h
        FROM wt, LATERAL (SELECT unnest(range(1,
                 greatest(len(w) - {DECON_SPAN_K - 1}, 0) + 1)) AS i) i
        WHERE source <> 'src0'
    ), bgrams AS (
        SELECT DISTINCT md5(array_to_string(w[i.i : i.i + {DECON_SPAN_K - 1}], ' ')) AS h
        FROM wt, LATERAL (SELECT unnest(range(1,
                 greatest(len(w) - {DECON_SPAN_K - 1}, 0) + 1)) AS i) i
        WHERE source = 'src0'
    ), dup AS (
        SELECT g.doc_id, g.pos FROM grams g JOIN bgrams USING (h)
    ), flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
                    THEN 0 ELSE 1 END AS newf
        FROM dup
    ), sp AS (
        SELECT doc_id, pos,
               sum(newf) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS span
        FROM flagged
    ), spans AS (
        SELECT doc_id, min(pos) AS span_start,
               (max(pos) + {DECON_SPAN_K - 1})::BIGINT AS span_end,
               (max(pos) + {DECON_SPAN_K - 1} - min(pos) + 1)::BIGINT
                   AS span_tokens
        FROM sp GROUP BY doc_id, span
    )
    SELECT doc_id, span_start, span_end, span_tokens FROM spans
    WHERE span_tokens >= {DECON_SPAN_MIN}
    ORDER BY doc_id, span_start
    """.replace("{DW}", _DUCK_WORDS),
    doc="Substring-level decontamination (the strict Lee et al. 2022 "
        "form): maximal verbatim benchmark passages >= 12 tokens "
        "inside training docs, with exact boundaries so excise_spans "
        "can cut the leak instead of dropping the doc. Complements "
        "decontaminate's recall-oriented shingle overlap with a "
        "precision-oriented contiguous-run test; same map-only gram "
        "emit + semi join + per-doc islands shuffle shape as "
        "dup_spans.",
    tags=("dedup", "north-star"),
)
def decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    return (D.contamination_spans(corpus, bench, "doc_id", "text",
                                  k=DECON_SPAN_K,
                                  min_tokens=DECON_SPAN_MIN)
             .orderBy("doc_id", "span_start"))


@register(
    "decontaminate_exact_spans",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, source, {{DW}} AS w FROM documents
    ), grams AS (
        SELECT doc_id, (i.i - 1)::BIGINT AS pos,
               array_to_string(w[i.i : i.i + {DECON_SPAN_MIN - 1}], ' ') AS g
        FROM wt, LATERAL (SELECT unnest(range(1,
                 greatest(len(w) - {DECON_SPAN_MIN - 1}, 0) + 1)) AS i) i
        WHERE source <> 'src0'
    ), bgrams AS (
        SELECT DISTINCT
               array_to_string(w[i.i : i.i + {DECON_SPAN_MIN - 1}], ' ') AS g
        FROM wt, LATERAL (SELECT unnest(range(1,
                 greatest(len(w) - {DECON_SPAN_MIN - 1}, 0) + 1)) AS i) i
        WHERE source = 'src0'
    ), dup AS (
        SELECT gr.doc_id, gr.pos,
               gr.pos + {DECON_SPAN_MIN - 1} AS e
        FROM grams gr JOIN bgrams USING (g)
    ), flagged AS (
        SELECT doc_id, pos, e,
               CASE WHEN pos <= max(e) OVER (PARTITION BY doc_id
                        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) + 1
                    THEN 0 ELSE 1 END AS newf
        FROM dup
    ), sp AS (
        SELECT doc_id, pos, e,
               sum(newf) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    )
    SELECT doc_id, min(pos)::BIGINT AS span_start,
           max(e)::BIGINT AS span_end,
           (max(e) - min(pos) + 1)::BIGINT AS span_tokens
    FROM sp GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """.replace("{DW}", _DUCK_WORDS),
    doc="COLLISION-FREE substring decontamination "
        "(ops/dedup.contamination_exact_spans): the suffix-grade "
        "guarantee cross-corpus — exact L-token grams (L=12) as the "
        "semi-join key instead of md5 fingerprints (a shared "
        "substring >= L shares an exact L-gram at every offset, so "
        "no suffix sort is needed across corpora), flagged windows "
        "merged by INTERVAL UNION into maximal verbatim benchmark "
        "passages. The oracle replays the exact gram text and the "
        "running-max island merge relationally.",
    tags=("dedup", "north-star"),
)
def decontaminate_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    return (D.contamination_exact_spans(corpus, bench, "doc_id", "text",
                                        min_tokens=DECON_SPAN_MIN)
             .orderBy("doc_id", "span_start"))


@register(
    "decontaminate_attribution",
    sql=f"""
    WITH wt AS (
        SELECT doc_id, source, {{DW}} AS w FROM documents
    ), cg AS (
        SELECT DISTINCT doc_id AS corpus_id,
               array_to_string(w[i.i : i.i + {DECON_SPAN_MIN - 1}], ' ') AS g
        FROM wt, LATERAL (SELECT unnest(range(1,
                 greatest(len(w) - {DECON_SPAN_MIN - 1}, 0) + 1)) AS i) i
        WHERE source <> 'src0'
    ), bg AS (
        SELECT DISTINCT doc_id AS bench_id,
               array_to_string(w[i.i : i.i + {DECON_SPAN_MIN - 1}], ' ') AS g
        FROM wt, LATERAL (SELECT unnest(range(1,
                 greatest(len(w) - {DECON_SPAN_MIN - 1}, 0) + 1)) AS i) i
        WHERE source = 'src0'
    ), docs AS (
        SELECT bench_id, CAST(count(*) AS BIGINT) AS n_corpus_docs
        FROM (SELECT DISTINCT bench_id, corpus_id
              FROM bg JOIN cg USING (g))
        GROUP BY bench_id
    ), grams AS (
        SELECT bench_id, CAST(count(*) AS BIGINT) AS n_shared_grams
        FROM bg SEMI JOIN (SELECT DISTINCT g FROM cg) c USING (g)
        GROUP BY bench_id
    )
    SELECT bench_id, n_corpus_docs, n_shared_grams
    FROM docs JOIN grams USING (bench_id)
    ORDER BY bench_id
    """.replace("{DW}", _DUCK_WORDS),
    doc="Per-benchmark-doc leak attribution "
        "(ops/dedup.contamination_attribution): which eval items are "
        "compromised and how badly — distinct corpus docs sharing an "
        "exact 12-gram with each benchmark doc, plus the benchmark "
        "doc's own leaked-gram coverage. The governance complement to "
        "the corpus-side span queries.",
    tags=("dedup", "north-star"),
)
def decontaminate_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    return (D.contamination_attribution(corpus, bench, "doc_id", "text",
                                        min_tokens=DECON_SPAN_MIN)
             .orderBy("bench_id"))


_LPA_ITERS = 3
_LPA_SQL_ITER = """, cnt{k} AS (
        SELECT e.dst AS nd, l.lbl, CAST(count(*) AS BIGINT) AS c
        FROM sym e JOIN l{p} l ON l.node = e.src
        GROUP BY e.dst, l.lbl
    ), m{k} AS (
        SELECT node, m.lbl AS new_lbl FROM (
            SELECT nd AS node, min({{'nc': -c, 'lbl': lbl}}) AS m
            FROM cnt{k} GROUP BY nd)
    ), l{k} AS (
        SELECT l.node, coalesce(m.new_lbl, l.lbl) AS lbl
        FROM l{p} l LEFT JOIN m{k} m USING (node)
    )"""


@register(
    "label_propagation",
    sql=_DUCK_SIGS_CTE + DUCK_MINHASH_VERIFIED_CTE + """
    , sym0 AS (
        SELECT id_a AS src, id_b AS dst FROM verified
        UNION SELECT id_b AS src, id_a AS dst FROM verified
    ), nodes AS (
        SELECT DISTINCT src AS node FROM sym0
    ), sym AS (
        SELECT src, dst FROM sym0
        UNION ALL SELECT node AS src, node AS dst FROM nodes
    ), l0 AS (
        SELECT node, node AS lbl FROM nodes
    )""" + "".join(_LPA_SQL_ITER.format(k=k, p=k - 1)
                   for k in range(1, _LPA_ITERS + 1)) + f"""
    SELECT node AS doc_id, lbl AS community
    FROM l{_LPA_ITERS}
    ORDER BY doc_id
    """,
    doc="Label-propagation communities (Raghavan et al. 2007) over the "
        "minhash near-dup graph, 3 synchronous rounds with the "
        "deterministic (count desc, label asc) struct-min vote — the "
        "classic random tie-break can never hash-match an independent "
        "engine. The fixed-round alternative to dedup_clusters' "
        "exact connected components: no convergence loop, bounded "
        "plan depth, and each node votes its own current label too — "
        "the synchronous-schedule oscillation guard (a bare pair "
        "under pure neighbor voting swaps labels forever); on the "
        "capped near-dup graph the tight clusters label identically "
        "to CC (asserted in tests). "
        "Per round: one co-partitioned edges⋈labels join + one "
        "(node,label) count + one struct-min argmax; label state "
        "O(nodes), localCheckpoint lineage cuts. "
        "ops/graph.label_propagation_sync.",
    tags=("graph", "dedup", "iterative", "north-star"),
)
def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.graph import label_propagation_sync

    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                  SHINGLE_N, THRESHOLD)
    edges = pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst"))
    lp = label_propagation_sync(edges, iters=_LPA_ITERS)
    return (lp.select(F.col("node").alias("doc_id"),
                      F.col("label").alias("community"))
              .orderBy("doc_id"))


@register(
    "cross_source_dup_matrix",
    sql=_DUCK_SIGS_CTE + DUCK_MINHASH_VERIFIED_CTE + """
    , srcs AS (
        SELECT doc_id, source FROM documents
    ), scount AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM srcs GROUP BY source
    ), m AS (
        SELECT least(sa.source, sb.source) AS source_a,
               greatest(sa.source, sb.source) AS source_b,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM verified v
        JOIN srcs sa ON sa.doc_id = v.id_a
        JOIN srcs sb ON sb.doc_id = v.id_b
        GROUP BY 1, 2
    )
    SELECT m.source_a, m.source_b, m.n_pairs,
           ca.n_docs AS n_docs_a, cb.n_docs AS n_docs_b,
           CAST(m.n_pairs * 1000000 //
                (CASE WHEN m.source_a = m.source_b
                      THEN ca.n_docs * (ca.n_docs - 1) // 2
                      ELSE ca.n_docs * cb.n_docs END) AS BIGINT)
             AS pair_rate_ppm
    FROM m
    JOIN scount ca ON ca.source = m.source_a
    JOIN scount cb ON cb.source = m.source_b
    ORDER BY source_a, source_b
    """,
    doc="Cross-source duplication matrix (the curation diagnostic "
        "behind source weighting decisions: which crawls copy which): "
        "verified minhash near-dup pairs grouped by unordered source "
        "pair, with the pair rate normalized by the possible-pair "
        "count (n_a·n_b cross, n·(n−1)/2 within). Rides the capped "
        "banded pair machinery; the doc→source joins are plain "
        "shuffle joins (|documents|-sized), only the source-count "
        "joins broadcast — output is |sources|²-bounded.",
    tags=("dedup", "analytics", "north-star"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                  SHINGLE_N, THRESHOLD)
    srcs = d.select("doc_id", "source")
    scount = srcs.groupBy("source").agg(F.count("*").cast("long")
                                         .alias("n_docs"))
    sa = srcs.select(F.col("doc_id").alias("id_a"),
                     F.col("source").alias("_sa"))
    sb = srcs.select(F.col("doc_id").alias("id_b"),
                     F.col("source").alias("_sb"))
    # plain shuffle joins: sa/sb are |documents|-sized (one row per
    # doc) — broadcasting them is exactly the driver-OOM-at-scale
    # mistake; only the |sources|-sized count joins below broadcast
    m = (pairs.join(sa, "id_a")
              .join(sb, "id_b")
              .select(F.least("_sa", "_sb").alias("source_a"),
                      F.greatest("_sa", "_sb").alias("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.count("*").cast("long").alias("n_pairs")))
    ca = scount.select(F.col("source").alias("source_a"),
                       F.col("n_docs").alias("n_docs_a"))
    cb = scount.select(F.col("source").alias("source_b"),
                       F.col("n_docs").alias("n_docs_b"))
    return (m.join(F.broadcast(ca), "source_a")
             .join(F.broadcast(cb), "source_b")
             .select("source_a", "source_b", "n_pairs", "n_docs_a",
                     "n_docs_b",
                     F.expr("CAST(n_pairs * 1000000 div "
                            "(CASE WHEN source_a = source_b "
                            "THEN n_docs_a * (n_docs_a - 1) div 2 "
                            "ELSE n_docs_a * n_docs_b END) AS BIGINT)")
                      .alias("pair_rate_ppm"))
             .orderBy("source_a", "source_b"))


BBIT_B = 2


def _bbit_match_sql(mod: int | None) -> str:
    """Σ_i [s_i(a) (≡ mod) s_i(b)] as a fixed 16-term sum."""
    op = (lambda i: f"(CASE WHEN a.s{i} % {mod} = b.s{i} % {mod} "
                    f"THEN 1 ELSE 0 END)") if mod else \
         (lambda i: f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)")
    return " + ".join(op(i) for i in range(N_HASHES))


@register(
    "minhash_bbit",
    sql=_DUCK_SIGS_CTE + f"""
    , bands AS (
        SELECT doc_id, b.band AS band, b.bhash AS bhash
        FROM (SELECT doc_id, unnest({_duck_band_structs()}) AS b FROM sigs)
    ), bok AS (
        SELECT band, bhash FROM bands GROUP BY band, bhash
        HAVING count(*) BETWEEN 2 AND 1000
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band, bhash)
        JOIN bok USING (band, bhash)
        WHERE a.doc_id < b.doc_id
    ), inter AS (
        SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS inter
        FROM cand c
        JOIN srows ra ON ra.doc_id = c.id_a
        JOIN srows rb ON rb.doc_id = c.id_b AND rb.shingle = ra.shingle
        GROUP BY c.id_a, c.id_b
    ), m AS (
        SELECT c.id_a, c.id_b,
               CAST({_bbit_match_sql(None)} AS BIGINT) AS matches_full,
               CAST({_bbit_match_sql(1 << BBIT_B)} AS BIGINT) AS matches_b2,
               CAST(round(round(coalesce(i.inter, 0) /
                    (za.set_size + zb.set_size - coalesce(i.inter, 0)), 6)
                    * 1000000, 0) AS BIGINT) AS jaccard_ppm
        FROM cand c
        LEFT JOIN inter i USING (id_a, id_b)
        JOIN sigs a ON a.doc_id = c.id_a
        JOIN sigs b ON b.doc_id = c.id_b
        JOIN sigs za ON za.doc_id = c.id_a
        JOIN sigs zb ON zb.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard_ppm, matches_full, matches_b2,
           CAST(matches_full * 1000000 // {N_HASHES} AS BIGINT)
             AS est_full_ppm,
           CAST(round((CAST(matches_b2 AS DOUBLE) / {N_HASHES} - 0.25e0)
                / 0.75e0 * 1000000, 0) AS BIGINT) AS est_b2_ppm
    FROM m
    ORDER BY id_a, id_b
    """,
    doc="b-bit minwise hashing (Li & König 2010, b=2): store only the "
        "low b bits of each minhash — 64×→4× smaller signatures — and "
        "correct the inflated collision rate with the unbiased "
        "estimator Ĵ = (P − C)/(1 − C), C = 2^-b (the equal-size "
        "simplification of eq. 5, stated not hidden; can go negative "
        "on dissimilar pairs — that IS the unbiased estimator). "
        "Emitted per banded candidate pair NEXT TO the exact Jaccard "
        "and the full-signature match fraction, so the row set itself "
        "is the estimator-accuracy audit. The 10th sketch family "
        "member; the storage lever for billion-doc signature stores.",
    tags=("dedup", "sketch", "north-star"),
)
def minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(d, "doc_id", "text", N_HASHES, BANDS,
                                  SHINGLE_N, threshold=0.0)
    sigs = D.minhash_signatures(d, "doc_id", "text", N_HASHES, SHINGLE_N)
    sa = sigs.select(F.col("doc_id").alias("id_a"),
                     *[F.col(f"s{i}").alias(f"a{i}")
                       for i in range(N_HASHES)])
    sb = sigs.select(F.col("doc_id").alias("id_b"),
                     *[F.col(f"s{i}").alias(f"b{i}")
                       for i in range(N_HASHES)])
    mod = 1 << BBIT_B
    mf = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
             for i in range(N_HASHES))
    mb = sum(F.when(F.col(f"a{i}") % mod == F.col(f"b{i}") % mod, 1)
              .otherwise(0) for i in range(N_HASHES))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
                 .select("id_a", "id_b",
                         F.expr("CAST(round(jaccard * 1000000, 0) "
                                "AS BIGINT)").alias("jaccard_ppm"),
                         mf.cast("long").alias("matches_full"),
                         mb.cast("long").alias("matches_b2"))
                 .withColumn("est_full_ppm",
                             F.expr(f"CAST(matches_full * 1000000 div "
                                    f"{N_HASHES} AS BIGINT)"))
                 .withColumn("est_b2_ppm",
                             F.expr(f"CAST(round((CAST(matches_b2 AS DOUBLE)"
                                    f" / {N_HASHES} - 0.25e0) / 0.75e0 "
                                    f"* 1000000, 0) AS BIGINT)"))
                 .orderBy("id_a", "id_b"))

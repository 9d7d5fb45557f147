"""Similarity-search inventory queries (north-star; `embeddings` table,
64-dim float vectors).

Spark computes cosine via a zip_with/aggregate fold in double; the
DuckDB oracle uses list_cosine_similarity on DOUBLE[] — both in IEEE
double, rounded to 6 decimals, so hashes match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hops_spark.io.readers import load_table
from hops_spark.ops import similarity as SIM
from hops_spark.registry import register

DIM = 64
K = 10
N_PLANES = 6
NEAR_DUP_THRESHOLD = 0.3  # fixture embeddings are random; 0.3 yields pairs
N_QUERIES = 5


@register(
    "knn_bruteforce",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, v AS qv FROM d WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.q_id, d.vec_id AS neighbor_id,
               round(list_cosine_similarity(d.v, q.qv), 6) AS cos_sim
        FROM d CROSS JOIN q
        WHERE d.vec_id <> q.q_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, rnk
    FROM ranked WHERE rnk <= {K}
    ORDER BY q_id, rnk
    """,
    doc="Exact k-NN by cosine: broadcast query set × corpus scan → "
        "per-query top-k (the correctness baseline for ANN).",
    tags=("similarity", "north-star", "flagship"),
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    return (SIM.knn_bruteforce(e.select("vec_id", "embedding"), queries, K)
               .select("q_id", "neighbor_id", "cos_sim", "rnk")
               .orderBy("q_id", "rnk"))


def _duck_plane_literal(plane: int) -> str:
    signs = SIM.hyperplane_signs(DIM, plane)
    return "[" + ", ".join(f"{s}.0" for s in signs) + "]"


def _duck_bucket_expr(vec: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vec}, {_duck_plane_literal(p)}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)]
    return "(" + " + ".join(terms) + ")"


@register(
    "knn_lsh",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               {_duck_bucket_expr('embedding::DOUBLE[]')} AS bucket
        FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, v AS qv, bucket FROM d WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.q_id, d.vec_id AS neighbor_id,
               round(list_cosine_similarity(d.v, q.qv), 6) AS cos_sim
        FROM d JOIN q USING (bucket)
        WHERE d.vec_id <> q.q_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, rnk
    FROM ranked WHERE rnk <= {K}
    ORDER BY q_id, rnk
    """,
    doc="ANN k-NN via random-hyperplane LSH buckets (deterministic "
        "md5-seeded planes): scores only same-bucket vectors — the scale "
        "path; bucket assign is one narrow pass, join co-partitions on "
        "bucket.",
    tags=("similarity", "north-star"),
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    return (SIM.knn_lsh(e.select("vec_id", "embedding"), queries, DIM, K, N_PLANES)
               .select("q_id", "neighbor_id", "cos_sim", "rnk")
               .orderBy("q_id", "rnk"))


@register(
    "embedding_near_dup",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               {_duck_bucket_expr('embedding::DOUBLE[]')} AS bucket
        FROM embeddings
    ), ok AS (
        -- mirror the Spark-side skew cap (max_bucket=10000): cap is part
        -- of the op's declared semantics, visible in the oracle
        SELECT bucket FROM d GROUP BY bucket
        HAVING count(*) BETWEEN 2 AND 10000
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM d a JOIN d b USING (bucket) JOIN ok USING (bucket)
    WHERE a.vec_id < b.vec_id
      AND round(list_cosine_similarity(a.v, b.v), 6) >= {NEAR_DUP_THRESHOLD}
    ORDER BY id_a, id_b
    """,
    doc="Embedding-cosine near-duplicate pairs via LSH blocking with the "
        "bucket-size cap mirrored in the oracle "
        "(threshold 0.3 — fixture vectors are random, no true near-dups).",
    tags=("similarity", "dedup", "north-star"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (SIM.embedding_near_dup(e.select("vec_id", "embedding"), DIM,
                                   NEAR_DUP_THRESHOLD, N_PLANES)
               .orderBy("id_a", "id_b"))


N_CELLS = 16
NPROBE = 2


@register(
    "knn_ivf",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, v AS cv FROM d
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_CELLS}
    ), assign AS (
        SELECT d.vec_id, d.v, c.cid,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6) DESC,
                            c.cid DESC) AS rn
        FROM d CROSS JOIN cent c
    ), cells AS (
        SELECT vec_id, v, cid AS cell FROM assign WHERE rn = 1
    ), qprobe AS (
        SELECT vec_id AS q_id, v AS qv, cid AS cell
        FROM assign WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}
    ), scored AS (
        SELECT q.q_id, cells.vec_id AS neighbor_id,
               round(list_cosine_similarity(cells.v, q.qv), 6) AS cos_sim
        FROM cells JOIN qprobe q USING (cell)
        WHERE cells.vec_id <> q.q_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, rnk
    FROM ranked WHERE rnk <= {K}
    ORDER BY q_id, rnk
    """,
    doc="IVF ANN k-NN: deterministic md5-sampled codebook, nearest-cell "
        "assignment (argmax over broadcast centroids — one narrow pass), "
        "nprobe-cell probing. Candidates ≈ nprobe/n_cells of the corpus; "
        "the scale path when the LSH bucket distribution is too skewed.",
    tags=("similarity", "north-star"),
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    return (SIM.knn_ivf(e.select("vec_id", "embedding"), queries, K,
                        N_CELLS, NPROBE)
               .select("q_id", "neighbor_id", "cos_sim", "rnk")
               .orderBy("q_id", "rnk"))


@register(
    "knn_recall",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               {_duck_bucket_expr('embedding::DOUBLE[]')} AS bucket
        FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, v AS qv, bucket FROM d WHERE vec_id < {N_QUERIES}
    ), exact AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, d.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.q_id
                       ORDER BY round(list_cosine_similarity(d.v, q.qv), 6) DESC,
                                d.vec_id) AS rnk
            FROM d CROSS JOIN q WHERE d.vec_id <> q.q_id
        ) WHERE rnk <= {K}
    ), approx AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, d.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.q_id
                       ORDER BY round(list_cosine_similarity(d.v, q.qv), 6) DESC,
                                d.vec_id) AS rnk
            FROM d JOIN q USING (bucket) WHERE d.vec_id <> q.q_id
        ) WHERE rnk <= {K}
    )
    SELECT e.q_id,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // {K} AS BIGINT) AS recall_ppm
    FROM exact e LEFT JOIN approx a USING (q_id, neighbor_id)
    GROUP BY e.q_id
    ORDER BY e.q_id
    """,
    doc="ANN quality evaluation: recall@k of the LSH path against the "
        "exact brute-force top-k, per query (integer ppm). Both paths "
        "are deterministic (md5-seeded planes), so this is a full "
        "value-hash oracle — the eval harness an ANN deployment runs "
        "after every index build.",
    tags=("similarity", "north-star", "eval"),
)
def knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    corpus = e.select("vec_id", "embedding")
    exact = (SIM.knn_bruteforce(corpus, queries, K)
             .select("q_id", "neighbor_id"))
    approx = (SIM.knn_lsh(corpus, queries, DIM, K, N_PLANES)
              .select("q_id", "neighbor_id").withColumn("_hit", F.lit(1)))
    return (exact.join(approx, ["q_id", "neighbor_id"], "left")
                 .groupBy("q_id")
                 .agg(F.expr(f"CAST(sum(coalesce(_hit, 0)) * 1000000 div {K} "
                             f"AS BIGINT)").alias("recall_ppm"))
                 .orderBy("q_id"))


TRUNC_DIMS = (8, 16, 32)


def _matryoshka_sql() -> str:
    """One exact full-dim truth CTE + one truncated-prefix approx CTE
    per truncation dim, unioned into (d_trunc, q_id, recall_ppm)."""
    parts = [f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, v AS qv FROM d WHERE vec_id < {N_QUERIES}
    ), exact AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, d.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.q_id
                       ORDER BY round(list_cosine_similarity(d.v, q.qv), 6)
                                DESC, d.vec_id) AS rnk
            FROM d CROSS JOIN q WHERE d.vec_id <> q.q_id
        ) WHERE rnk <= {K}
    )"""]
    for dt in TRUNC_DIMS:
        parts.append(f""", t{dt} AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, d.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.q_id
                       ORDER BY round(list_cosine_similarity(
                                    d.v[1:{dt}], q.qv[1:{dt}]), 6)
                                DESC, d.vec_id) AS rnk
            FROM d CROSS JOIN q WHERE d.vec_id <> q.q_id
        ) WHERE rnk <= {K}
    )""")
    faces = "\n    UNION ALL ".join(
        f"""SELECT CAST({dt} AS BIGINT) AS d_trunc, e.q_id,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0
                    END) * 1000000 // {K} AS BIGINT) AS recall_ppm
    FROM exact e LEFT JOIN t{dt} a USING (q_id, neighbor_id)
    GROUP BY e.q_id""" for dt in TRUNC_DIMS)
    parts.append(f"\n    {faces}\n    ORDER BY d_trunc, q_id")
    return "".join(parts)


@register(
    "matryoshka_recall",
    sql=_matryoshka_sql(),
    doc="Matryoshka truncation-recall curve (Kusupati et al. 2022 MRL; "
        "the dimension-vs-quality tradeoff every 2024-era embedding "
        "deployment measures before serving truncated vectors): "
        "recall@k of top-k retrieval using only the FIRST 8/16/32 of "
        "the 64 embedding components against the full-dimension exact "
        "top-k, per query in integer ppm. The adaptive-retrieval "
        "pattern this certifies — shortlist on a cheap prefix, rerank "
        "on the full vector — is the ANN analogue of rerank_maxsim's "
        "cascade. Full-dim truth is computed once (localCheckpointed, "
        "N_QUERIES·k rows) and each truncation face joins against it; "
        "all faces are bounded query panels over the guarded "
        "brute-force eval shape, FUSED into one corpus×panel pass: "
        "every prefix cosine and the full-dim truth rank are computed "
        "per pair in a single cross join (one guard, one sweep instead "
        "of four), and a face hit is the rank coincidence "
        "rnk_full<=k AND rnk_prefix<=k on the same row — no face "
        "joins. Identical arithmetic per face (same sliced-fold "
        "cosine, same round-6 rank, same tie-break), so the result is "
        "bit-equal to the four-sweep composition.",
    tags=("similarity", "eval", "ml", "north-star"),
)
def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    corpus = e.select("vec_id", "embedding")
    SIM.guard_query_panel(queries, "matryoshka_recall")
    # prefix slices and their norms hoisted below the cross join (r13,
    # guide §1.2 step 2): per pair only the four dot folds remain —
    # cosine_pre/dot over the same sliced arrays is bit-identical to
    # the inline sliced-fold cosines
    def _pre(df, vcol):
        out = df.withColumn(f"_n_{vcol}", SIM.norm(F.col(vcol)))
        for dt in TRUNC_DIMS:
            out = (out.withColumn(f"_{vcol}_{dt}",
                                  F.slice(vcol, 1, dt))
                      .withColumn(f"_n_{vcol}_{dt}",
                                  SIM.norm(F.col(f"_{vcol}_{dt}"))))
        return out
    pairs = (_pre(corpus, "embedding")
             .crossJoin(F.broadcast(_pre(queries, "q_vec")))
             .filter(F.col("vec_id") != F.col("q_id"))
             .select(
                 "q_id", F.col("vec_id").alias("neighbor_id"),
                 F.round(SIM.cosine_pre(F.col("embedding"), F.col("q_vec"),
                                        F.col("_n_embedding"),
                                        F.col("_n_q_vec")),
                         6).alias("s_full"),
                 *[F.round(SIM.cosine_pre(F.col(f"_embedding_{dt}"),
                                          F.col(f"_q_vec_{dt}"),
                                          F.col(f"_n_embedding_{dt}"),
                                          F.col(f"_n_q_vec_{dt}")), 6)
                    .alias(f"s_{dt}") for dt in TRUNC_DIMS]))
    for col in ["s_full"] + [f"s_{dt}" for dt in TRUNC_DIMS]:
        w = Window.partitionBy("q_id").orderBy(
            F.col(col).desc(), F.col("neighbor_id").asc())
        pairs = pairs.withColumn(f"r_{col}", F.row_number().over(w))
    hits = (pairs.filter(F.col("r_s_full") <= K)
            .groupBy("q_id")
            .agg(*[F.sum(F.when(F.col(f"r_s_{dt}") <= K, 1)
                          .otherwise(0)).alias(f"h_{dt}")
                   for dt in TRUNC_DIMS]))
    faces = ", ".join(
        f"CAST({dt} AS BIGINT), CAST(h_{dt} * 1000000 div {K} AS BIGINT)"
        for dt in TRUNC_DIMS)
    return (hits.select(
                "q_id",
                F.expr(f"stack({len(TRUNC_DIMS)}, {faces}) "
                       "AS (d_trunc, recall_ppm)"))
            .select("d_trunc", "q_id", "recall_ppm")
            .orderBy("d_trunc", "q_id"))


PREFIX_DIM = 8          # shortlist on this prefix
SHORTLIST_K = 30        # candidates the cheap stage hands the reranker


@register(
    "adaptive_prefix_rerank",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, v AS qv FROM d WHERE vec_id < {N_QUERIES}
    ), short AS (
        SELECT q_id, neighbor_id, rnk AS prefix_rnk FROM (
            SELECT q.q_id, d.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.q_id
                       ORDER BY round(list_cosine_similarity(
                                    d.v[1:{PREFIX_DIM}],
                                    q.qv[1:{PREFIX_DIM}]), 6)
                                DESC, d.vec_id) AS rnk
            FROM d CROSS JOIN q WHERE d.vec_id <> q.q_id
        ) WHERE rnk <= {SHORTLIST_K}
    ), rer AS (
        SELECT s.q_id, s.neighbor_id, s.prefix_rnk,
               round(list_cosine_similarity(d.v, q.qv), 6) AS cos_sim
        FROM short s JOIN d ON d.vec_id = s.neighbor_id
                     JOIN q ON q.q_id = s.q_id
    ), fin AS (
        SELECT q_id, neighbor_id, cos_sim, prefix_rnk,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM rer
    )
    SELECT q_id, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk,
           CAST(prefix_rnk AS BIGINT) AS prefix_rnk
    FROM fin WHERE rnk <= {K}
    ORDER BY q_id, rnk
    """,
    doc="Adaptive retrieval cascade EXECUTED (the serving pattern "
        "matryoshka_recall certifies; Kusupati et al. 2022 §4 propose "
        "exactly this shortlist-then-rerank): stage 1 ranks by the "
        "8-component prefix (at scale: an IVF/LSH index built on the "
        "cheap prefix — 8/64ths of the scan bytes and FLOPs), stage 2 "
        "reranks only the 30-candidate shortlist with full vectors. "
        "Output carries both ranks, so the rank-movement audit rides "
        "along (the rerank_maxsim contract for dense vectors). Stage "
        "2 joins a bounded shortlist — constant cost per query "
        "regardless of corpus size.",
    tags=("similarity", "north-star"),
)
def adaptive_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    corpus = e.select("vec_id", "embedding")
    short = (SIM.knn_bruteforce(
        corpus.select("vec_id",
                      F.slice("embedding", 1, PREFIX_DIM)
                      .alias("embedding")),
        queries.select("q_id",
                       F.slice("q_vec", 1, PREFIX_DIM).alias("q_vec")),
        SHORTLIST_K)
        .select("q_id", "neighbor_id",
                F.col("rnk").cast("long").alias("prefix_rnk")))
    # the shortlist streams into the vector lookup (not rerank_exact's
    # broadcast of it): the rerank window then keeps short's q_id
    # partitioning and prefix_rnk rides along without a join back
    rer = SIM.cosine_pairs(
        short.join(corpus.withColumnRenamed("vec_id", "neighbor_id"),
                   "neighbor_id"),
        queries, "q_id", id_col="neighbor_id")
    return (SIM.top_k_neighbors(rer.select("q_id", "neighbor_id", "cos_sim",
                                           "prefix_rnk"), K)
               .select("q_id", "neighbor_id", "cos_sim",
                       F.col("rnk").cast("long").alias("rnk"), "prefix_rnk")
               .orderBy("q_id", "rnk"))


@register(
    "ivf_refined_cells",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, v AS cv FROM d
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_CELLS}
    ), a1 AS (
        SELECT d.vec_id, d.v, c.cid,
               row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6) DESC,
                            c.cid DESC) AS rn
        FROM d CROSS JOIN cent c
    ), cells1 AS (
        SELECT vec_id, v, cid AS cell FROM a1 WHERE rn = 1
    ), dims AS (
        SELECT cell, p.pos, v[p.pos] AS val
        FROM cells1, (SELECT unnest(range(1, {DIM} + 1)) AS pos) p
    ), means AS (
        SELECT cell, pos, round(avg(val), 6) AS m
        FROM dims GROUP BY cell, pos
    ), mv AS (
        SELECT cell, list(m ORDER BY pos) AS mv FROM means GROUP BY cell
    ), refined AS (
        SELECT c.cid AS cell, COALESCE(mv.mv, c.cv) AS cv
        FROM cent c LEFT JOIN mv ON mv.cell = c.cid
    ), a2 AS (
        SELECT d.vec_id, r.cell,
               row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, r.cv), 6) DESC,
                            r.cell DESC) AS rn
        FROM d CROSS JOIN refined r
    ), final AS (
        SELECT vec_id, cell FROM a2 WHERE rn = 1
    )
    SELECT f.cell, count(*) AS n_members,
           round(sqrt(list_sum(list_transform(r.cv, x -> x * x))), 6)
               AS centroid_norm
    FROM final f JOIN refined r USING (cell)
    GROUP BY f.cell, r.cv
    ORDER BY cell
    """,
    doc="IVF codebook k-means refinement (one Lloyd iteration as "
        "DataFrame ops: broadcast-argmax assignment + per-(cell,dim) "
        "mean aggregate), then re-assignment census with the refined "
        "codebook. The oracle replays the identical iteration "
        "relationally — 6-decimal means keep both engines bit-equal.",
    tags=("similarity", "north-star", "iterative"),
)
def ivf_refined_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding")
    base = SIM.ivf_centroids(corpus, N_CELLS)
    refined = SIM.ivf_kmeans_refine(corpus, base, iters=1)
    cell_of = (F.array_max(SIM._cell_sims(F.col("embedding"), refined))
                .getField("cell"))
    counts = (corpus.select(cell_of.cast("long").alias("cell"))
                    .groupBy("cell").agg(F.count("*").alias("n_members")))
    norms = spark.createDataFrame(
        [(int(cid), round(math.sqrt(sum(x * x for x in vec)), 6))
         for cid, vec in refined],
        "cell long, centroid_norm double")
    return (counts.join(F.broadcast(norms), "cell")
                  .select("cell", "n_members", "centroid_norm")
                  .orderBy("cell"))


SD_THRESHOLD = 0.3  # fixture vectors are random; 0.3 yields duplicates


@register(
    "semantic_dedup",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, v AS cv FROM d
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_CELLS}
    ), assign AS (
        SELECT d.vec_id, d.v, c.cid,
               row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6) DESC,
                            c.cid DESC) AS rn
        FROM d CROSS JOIN cent c
    ), cells AS (
        SELECT vec_id, v, cid::BIGINT AS cell FROM assign WHERE rn = 1
    ), ok AS (
        -- mirror the Spark-side cell cap (max_cell=10000; members of
        -- over-cap cells are all kept — conservative for dedup)
        SELECT cell FROM cells GROUP BY cell
        HAVING count(*) BETWEEN 2 AND 10000
    ), dropped AS (
        SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b USING (cell) JOIN ok USING (cell)
        WHERE a.vec_id < b.vec_id
          AND round(list_cosine_similarity(a.v, b.v), 6) >= {SD_THRESHOLD}
    )
    SELECT c.vec_id, c.cell, (dr.vec_id IS NULL) AS is_kept
    FROM cells c LEFT JOIN dropped dr ON dr.vec_id = c.vec_id
    ORDER BY c.vec_id
    """,
    doc="SemDeDup-shaped embedding dedup (Abbas et al. 2023): centroid-"
        "cell partitioning (broadcast-argmax narrow pass), within-cell "
        "pairwise cosine >= threshold, keep-min-id. One shuffle (the "
        "cell join), bounded by max_cell^2 per cell; over-cap cells "
        "conservatively keep all members.",
    tags=("similarity", "dedup", "north-star"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (SIM.semantic_dedup(e.select("vec_id", "embedding"), DIM,
                               N_CELLS, SD_THRESHOLD)
               .orderBy("vec_id"))


@register(
    "knn_label_purity",
    sql=f"""
    WITH d AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, label AS q_label, v AS qv
        FROM d WHERE vec_id < {N_QUERIES}
    ), ranked AS (
        SELECT q.q_id, q.q_label, d.label,
               row_number() OVER (PARTITION BY q.q_id
                   ORDER BY round(list_cosine_similarity(d.v, q.qv), 6) DESC,
                            d.vec_id) AS rnk
        FROM d CROSS JOIN q WHERE d.vec_id <> q.q_id
    )
    SELECT q_id,
           CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
                * 1000000 // {K} AS BIGINT) AS purity_ppm
    FROM ranked WHERE rnk <= {K}
    GROUP BY q_id
    ORDER BY q_id
    """,
    doc="ANN eval: label purity of the exact top-k neighborhood per "
        "query (fraction of neighbors sharing the query's label, "
        "integer ppm) — the embedding-quality probe a similarity "
        "deployment monitors; first use of the fixture's label column.",
    tags=("similarity", "eval"),
)
def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("label").alias("q_label"),
                        F.col("embedding").alias("q_vec")))
    labels = e.select(F.col("vec_id").alias("neighbor_id"), "label")
    knn = SIM.knn_bruteforce(e.select("vec_id", "embedding"),
                             queries.select("q_id", "q_vec"), K)
    ql = queries.select("q_id", "q_label")
    return (knn.join(F.broadcast(labels), "neighbor_id")
               .join(F.broadcast(ql), "q_id")
               .groupBy("q_id")
               .agg(F.expr(f"CAST(sum(CASE WHEN label = q_label THEN 1 "
                           f"ELSE 0 END) * 1000000 div {K} AS BIGINT)")
                     .alias("purity_ppm"))
               .orderBy("q_id"))


@register(
    "embedding_quantize",
    sql="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS scale
        FROM e
    ), q AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0
                    THEN list_transform(v, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(v, x -> CAST(floor(x * 127 / scale)
                                                     AS BIGINT))
               END AS lq
        FROM s
    )
    SELECT vec_id,
           CAST(floor(scale * 1000000) AS BIGINT) AS scale_ppm,
           CAST(list_sum(lq) AS BIGINT) AS q_sum,
           CAST(list_min(lq) AS BIGINT) AS q_min,
           CAST(list_max(lq) AS BIGINT) AS q_max,
           md5(array_to_string(lq, ',')) AS q_digest
    FROM q ORDER BY vec_id
    """,
    doc="Symmetric per-vector int8 scalar quantization (the faiss-SQ8 "
        "storage scheme that makes billion-vector ANN affordable: 4x "
        "smaller, SIMD dot products): q_i = floor(x_i * 127 / max|x|). "
        "Map-only, zero shuffle; floor on the shared double grid is "
        "tie-free, so the oracle reproduces every quantized element — "
        "the digest hashes the full q vector. ops/similarity.quantize_int8.",
    tags=("similarity", "north-star"),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.similarity import quantize_int8
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb)
    qsum = F.aggregate("q", F.lit(0).cast("long"),
                       lambda acc, x: acc + x)
    return (q.select(
                "vec_id",
                F.floor(F.col("scale") * 1000000).cast("long")
                 .alias("scale_ppm"),
                qsum.alias("q_sum"),
                F.array_min("q").cast("long").alias("q_min"),
                F.array_max("q").cast("long").alias("q_max"),
                F.expr("md5(array_join(transform(q, x -> cast(x as string)), ','))")
                 .alias("q_digest"))
            .orderBy("vec_id"))


@register(
    "ann_probe",
    # Oracle rebuilds the SERVING INDEX CONTENT relationally: the same
    # md5-sampled codebook and argmax cell assignment as knn_ivf, plus
    # the SQ8 quantize->dequantize round (q_i = floor(x*127/scale),
    # dv_i = q_i*scale/127 — floor on the shared double grid is
    # tie-free), then probes nprobe cells and ranks by the DEQUANTIZED
    # cosine. Matching hashes prove the on-disk quantized index returns
    # exactly the rows the relational definition demands.
    sql=f"""
    WITH d AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, v AS cv FROM d
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_CELLS}
    ), assign AS (
        SELECT d.vec_id, d.v, c.cid,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6) DESC,
                            c.cid DESC) AS rn
        FROM d CROSS JOIN cent c
    ), deq AS (
        SELECT vec_id,
               list_transform(v, x -> floor(x * 127 / scale) * scale / 127)
                   AS dv
        FROM (SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) AS scale
              FROM d)
        WHERE scale > 0
    ), cells AS (
        SELECT a.vec_id, deq.dv, a.cid AS cell
        FROM assign a JOIN deq USING (vec_id) WHERE a.rn = 1
    ), qprobe AS (
        SELECT vec_id AS q_id, v AS qv, cid AS cell
        FROM assign WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}
    ), scored AS (
        SELECT q.q_id, cells.vec_id AS neighbor_id,
               round(list_cosine_similarity(cells.dv, q.qv), 6) AS cos_sim
        FROM cells JOIN qprobe q USING (cell)
        WHERE cells.vec_id <> q.q_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, rnk
    FROM ranked WHERE rnk <= {K}
    ORDER BY q_id, rnk
    """,
    doc="End-to-end ANN SERVING path: build the cell-partitioned SQ8 "
        "parquet index on disk (ops/similarity.build_cell_index), then "
        "probe it (probe_cell_index) — the scan is statically pruned to "
        "the nprobe probed cell partitions and scores dequantized int8 "
        "codes. The one LLM-pipeline path previously verified only via "
        "CLI/pytest (tools/ann_index.py); pruning is plan-asserted in "
        "tests/test_ann_index.py.",
    tags=("similarity", "north-star", "io"),
)
def ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hops_spark.session import scratch_dir

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, N_CELLS)
    index_dir = os.path.join(scratch_dir("ann_probe", sf_dir), "vectors")
    SIM.build_cell_index(e, cents, index_dir)
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    top, _cells = SIM.probe_cell_index(spark, index_dir, cents, queries,
                                       K, NPROBE)
    return (top.select("q_id", "neighbor_id", "cos_sim", "rnk")
               .orderBy("q_id", "rnk"))


#: ann_probe_delete removes vec_id % DEL_MOD == DEL_RES from the index
#: (20% of rows — exactly the compaction threshold, so the query also
#: exercises the physical re-pack).
DEL_MOD, DEL_RES = 5, 2


@register(
    "ann_probe_delete",
    # The ann_probe oracle with the deleted ids excluded from the INDEX
    # CONTENT (queries still probe — deletion affects stored rows, not
    # the query panel; the frozen codebook keeps deleted centroids, as
    # the serving index does). Both lifecycle phases must equal it.
    sql=f"""
    WITH d AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, v AS cv FROM d
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_CELLS}
    ), assign AS (
        SELECT d.vec_id, d.v, c.cid,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6) DESC,
                            c.cid DESC) AS rn
        FROM d CROSS JOIN cent c
    ), deq AS (
        SELECT vec_id,
               list_transform(v, x -> floor(x * 127 / scale) * scale / 127)
                   AS dv
        FROM (SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) AS scale
              FROM d)
        WHERE scale > 0
    ), cells AS (
        SELECT a.vec_id, deq.dv, a.cid AS cell
        FROM assign a JOIN deq USING (vec_id)
        WHERE a.rn = 1 AND a.vec_id % {DEL_MOD} <> {DEL_RES}
    ), qprobe AS (
        SELECT vec_id AS q_id, v AS qv, cid AS cell
        FROM assign WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}
    ), scored AS (
        SELECT q.q_id, cells.vec_id AS neighbor_id,
               round(list_cosine_similarity(cells.dv, q.qv), 6) AS cos_sim
        FROM cells JOIN qprobe q USING (cell)
        WHERE cells.vec_id <> q.q_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT ph.phase, q_id, neighbor_id, cos_sim, rnk, TRUE AS compacted
    FROM ranked
    CROSS JOIN (SELECT 'compacted' AS phase
                UNION ALL SELECT 'tombstoned') ph
    WHERE rnk <= {K}
    ORDER BY phase, q_id, rnk
    """,
    doc="ANN index LIFECYCLE: build the cell-partitioned SQ8 index, "
        "DELETE 20% of vectors (tombstone side-set, no file rewrite — "
        "ops/similarity.delete_from_cell_index), probe (phase "
        "'tombstoned': the anti-join masks deletions after partition "
        "pruning), then COMPACT (the fraction equals the threshold: "
        "survivors re-pack one file per cell, staged + atomically "
        "swapped, tombstones reclaimed) and probe again (phase "
        "'compacted'). Both phases must hash-equal the relational "
        "probe over the surviving rows — deleted vectors are never "
        "returned either logically or physically, and the 'compacted' "
        "flag rides as a checked boolean.",
    tags=("similarity", "north-star", "io"),
)
def ann_probe_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hops_spark.session import scratch_dir

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, N_CELLS)
    index_dir = os.path.join(scratch_dir("ann_probe_delete", sf_dir),
                             "vectors")
    SIM.build_cell_index(e, cents, index_dir)
    SIM.delete_from_cell_index(
        e.filter(F.col("vec_id") % DEL_MOD == DEL_RES), index_dir)
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    t1, _ = SIM.probe_cell_index(spark, index_dir, cents, queries, K, NPROBE)
    # materialize BEFORE the compaction swaps the files out from under
    # the lazy plan (the result is <= n_queries * k rows)
    t1 = t1.select("q_id", "neighbor_id", "cos_sim", "rnk") \
           .localCheckpoint(eager=True)
    stats = SIM.compact_cell_index(spark, index_dir, threshold=0.2)
    t2, _ = SIM.probe_cell_index(spark, index_dir, cents, queries, K, NPROBE)
    out = (t1.withColumn("phase", F.lit("tombstoned"))
             .unionByName(t2.select("q_id", "neighbor_id", "cos_sim", "rnk")
                            .withColumn("phase", F.lit("compacted"))))
    return (out.withColumn("compacted", F.lit(bool(stats["compacted"])))
               .select("phase", "q_id", "neighbor_id", "cos_sim", "rnk",
                       "compacted")
               .orderBy("phase", "q_id", "rnk"))


_TL_CELLS, _TL_COARSE, _TL_PROBES = 32, 6, 3


@register(
    "ivf_two_level",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))
                   - 1 AS ord,
               vec_id AS cid, v AS cv
        FROM d ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_TL_CELLS}
    ), coarse AS (
        SELECT ord AS gidx, cv AS gv FROM cent WHERE ord < {_TL_COARSE}
    ), gassign AS (
        SELECT c.cid, c.cv, co.gidx,
               row_number() OVER (PARTITION BY c.cid
                   ORDER BY round(list_cosine_similarity(c.cv, co.gv), 6)
                            DESC, co.gidx DESC) AS rn
        FROM cent c CROSS JOIN coarse co
    ), grp AS (
        SELECT cid, cv, gidx FROM gassign WHERE rn = 1
    ), probes AS (
        SELECT d.vec_id, co.gidx,
               row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, co.gv), 6)
                            DESC, co.gidx DESC) AS rn
        FROM d CROSS JOIN coarse co
    ), cand AS (
        SELECT p.vec_id, g.cid, g.cv
        FROM (SELECT vec_id, gidx FROM probes WHERE rn <= {_TL_PROBES}) p
        JOIN grp g ON g.gidx = p.gidx
    ), two AS (
        SELECT c.vec_id, c.cid,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6)
                            DESC, c.cid DESC) AS rn
        FROM cand c JOIN d ON d.vec_id = c.vec_id
    ), twocell AS (
        SELECT vec_id, cid AS cell2 FROM two WHERE rn = 1
    ), flata AS (
        SELECT d.vec_id, c.cid,
               row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6)
                            DESC, c.cid DESC) AS rn
        FROM d CROSS JOIN cent c
    ), flat AS (
        SELECT vec_id, cid AS cell FROM flata WHERE rn = 1
    )
    SELECT f.cell,
           count(*) AS n_flat,
           CAST(sum(CASE WHEN t.cell2 <> f.cell THEN 1 ELSE 0 END)
                AS BIGINT) AS n_divergent,
           CAST(sum(t.cell2) AS BIGINT) AS sum_two_cell
    FROM flat f JOIN twocell t USING (vec_id)
    GROUP BY f.cell ORDER BY f.cell
    """,
    doc="TWO-LEVEL IVF assignment (the broadcast-argmax operator "
        "composed with itself — coarse codebook over the fine codebook; "
        "SCALE.md note 39 made executable in build_cell_index): per "
        "vector, argmax over ~sqrt(n_cells) coarse centroids, then "
        "argmax over only the fine centroids of the 3 nearest coarse "
        "groups. The oracle replays the ENTIRE two-level pipeline "
        "relationally (coarse pick, fine-centroid grouping, probe set, "
        "candidate argmax, identical 6-decimal/larger-id tie-breaks), "
        "so every per-vector two-level cell is cross-engine "
        "hash-proven; the flat census + per-cell divergence count ride "
        "along as MEASURED quality columns (fixture vectors are "
        "random — the worst case for coarse locality; exact "
        "flat-equality at coarse_probes = n_coarse is the pytest "
        "reduction proof in tests/test_round4_ops.py). "
        "ops/similarity.two_level_cell / coarse_codebook.",
    tags=("similarity", "north-star", "sketch"),
)
def ivf_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, _TL_CELLS)
    flat = (F.array_max(SIM._cell_sims(F.col("embedding"), cents))
             .getField("cell"))
    two = SIM.two_level_cell(F.col("embedding"), cents,
                             n_coarse=_TL_COARSE,
                             coarse_probes=_TL_PROBES)
    return (e.select(flat.alias("cell"), two.alias("cell2"))
             .groupBy("cell")
             .agg(F.count("*").alias("n_flat"),
                  F.sum(F.when(F.col("cell2") != F.col("cell"), 1)
                         .otherwise(0)).cast("long").alias("n_divergent"),
                  F.sum("cell2").cast("long").alias("sum_two_cell"))
             .orderBy("cell"))


@register(
    "knn_gemm",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, v AS qv FROM d WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.q_id, d.vec_id AS neighbor_id,
               round(list_cosine_similarity(d.v, q.qv), 6) AS cos_sim
        FROM d CROSS JOIN q
        WHERE d.vec_id <> q.q_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, rnk
    FROM ranked WHERE rnk <= {K}
    ORDER BY q_id, rnk
    """,
    doc="Exact k-NN at GEMM SPEED (ops/similarity.knn_bruteforce_gemm; "
        "the 'vectorized Pandas UDF' fast path): per Arrow record "
        "batch ONE float64 matmul scores every (vector, query) pair "
        "and emits top-(k+margin) candidate ids; the candidates are "
        "re-scored with the SAME rounded Column-expression cosine and "
        "tie-break as knn_bruteforce, so BLAS summation order cannot "
        "leak into the result — the oracle is knn_bruteforce's exact "
        "SQL, proving gemm-candidates + exact-rerank == the scalar "
        "scan bit-for-bit. Measured 11x on 1M x dim-32 vectors "
        "(SCALE.md note 50).",
    tags=("similarity", "north-star", "pandas-udf"),
)
def knn_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    return (SIM.knn_bruteforce_gemm(e.select("vec_id", "embedding"),
                                    queries, K)
               .select("q_id", "neighbor_id", "cos_sim", "rnk")
               .orderBy("q_id", "rnk"))


def _jl_p_expr(in_dim: int, j: int) -> str:
    """DuckDB expression for JL projection component j over a quantized
    array column ``q``, with the SAME sign literals the Spark plan uses
    (interpolated from ops/similarity.jl_sign — the matrix is one
    Python symbol, never hand-copied)."""
    terms = ("".join(
        ("+" if SIM.jl_sign(i, j) > 0 else "-") + f"q[{i + 1}]"
        for i in range(in_dim)))
    return f"({terms.lstrip('+')})" if terms.startswith("+") \
        else f"(0{terms})"


def _jl_oracle_sql(in_dim: int, out_dim: int) -> str:
    """DuckDB oracle for the jl_projection query."""
    p_cols = ",\n               ".join(
        f"{_jl_p_expr(in_dim, j)} AS p{j}" for j in range(out_dim))
    bits = " + ".join(
        f"(CASE WHEN p{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(out_dim))
    norm1 = " + ".join(f"abs(p{j})" for j in range(out_dim))
    digest = ", ".join(f"CAST(p{j} AS VARCHAR)" for j in range(out_dim))
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE)
                                              * {SIM.JL_QUANT}) AS BIGINT))
                   AS q
        FROM embeddings
    ), p AS (
        SELECT vec_id,
               {p_cols}
        FROM q
    )
    SELECT vec_id, p0, p1, p2, p3,
           CAST({bits} AS BIGINT) AS sign_bits,
           CAST({norm1} AS BIGINT) AS pnorm1,
           md5(concat_ws(',', {digest})) AS p_digest
    FROM p ORDER BY vec_id
    """


@register(
    "jl_projection",
    sql=_jl_oracle_sql(DIM, 16),
    doc="Johnson–Lindenstrauss random projection (Achlioptas ±1 sign "
        "matrix, ops/similarity.jl_project): 64-dim float embeddings "
        "→ 16 integer components on a fixed-point grid — the cheap "
        "map-only dimensionality reduction a 100 TB pipeline runs in "
        "front of ANN indexing / near-dup bucketing (no shuffle, "
        "in_dim·out_dim fused multiply-adds per row, downstream "
        "stages see 4x smaller vectors). sign_bits packs the 16 "
        "projection signs into the SRP-LSH bucket key; p_digest "
        "hashes every component so the oracle certifies the full "
        "projection, not a sample. Distance preservation is asserted "
        "separately in tests/test_similarity_extra.py (pairwise-cosine "
        "correlation before/after).",
    tags=("similarity", "north-star"),
)
def jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out_dim = 16
    p = SIM.jl_project(emb, in_dim=DIM, out_dim=out_dim)
    bits = SIM.srp_bucket(out_dim)   # the ONE sign-bit-packing definition
    norm1 = None
    for j in range(out_dim):
        a = F.abs(F.col(f"p{j}"))
        norm1 = a if norm1 is None else norm1 + a
    digest = F.md5(F.concat_ws(
        ",", *[F.col(f"p{j}").cast("string") for j in range(out_dim)]))
    return (p.select("vec_id", "p0", "p1", "p2", "p3",
                     bits.alias("sign_bits"),
                     norm1.cast("long").alias("pnorm1"),
                     digest.alias("p_digest"))
             .orderBy("vec_id"))


MP_BITS = 8      # SRP bucket width (2^8 = 256 buckets)
MP_NPROBE = 5    # own bucket + 4 Hamming-1 flips


def _multiprobe_oracle_sql() -> str:
    """DuckDB oracle for knn_multiprobe: replays the full multi-probe
    pipeline relationally — JL signs (same interpolated matrix), bucket
    packing, least-confident-bit probe ranking, Hamming-1 XOR probes,
    exact-cosine rescore, top-k."""
    p_cols = ",\n               ".join(
        f"{_jl_p_expr(DIM, j)} AS p{j}" for j in range(MP_BITS))
    bits = " + ".join(
        f"(CASE WHEN p{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(MP_BITS))
    abs_case = " ".join(
        f"WHEN {j} THEN abs(p{j})" for j in range(MP_BITS))
    p_list = ", ".join(f"p{j}" for j in range(MP_BITS))
    return f"""
    WITH qv AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE)
                                              * {SIM.JL_QUANT}) AS BIGINT))
                   AS q
        FROM embeddings
    ), p AS (
        SELECT vec_id,
               {p_cols}
        FROM qv
    ), d AS (
        SELECT p.vec_id, e.embedding::DOUBLE[] AS v,
               CAST({bits} AS BIGINT) AS bucket, {p_list}
        FROM p JOIN embeddings e USING (vec_id)
    ), q AS (
        SELECT vec_id AS q_id, v AS qv, bucket, {p_list}
        FROM d WHERE vec_id < {N_QUERIES}
    ), flips AS (
        SELECT q_id, j,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY CASE j {abs_case} END, j) AS r
        FROM q CROSS JOIN (SELECT unnest(range({MP_BITS})) AS j) js
    ), probes AS (
        SELECT q_id, bucket AS probe FROM q
        UNION ALL
        SELECT f.q_id, xor(q.bucket, 1 << f.j) AS probe
        FROM flips f JOIN q USING (q_id) WHERE f.r <= {MP_NPROBE - 1}
    ), cand AS (
        SELECT q.q_id, q.qv, d.vec_id AS neighbor_id, d.v
        FROM probes pr JOIN q USING (q_id)
        JOIN d ON d.bucket = pr.probe
        WHERE d.vec_id <> q.q_id
    ), scored AS (
        SELECT q_id, neighbor_id,
               round(list_cosine_similarity(v, qv), 6) AS cos_sim,
               CAST(count(*) OVER (PARTITION BY q_id) AS BIGINT) AS n_cand
        FROM cand
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim, n_cand,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, rnk, n_cand
    FROM ranked WHERE rnk <= {K}
    ORDER BY q_id, rnk
    """


@register(
    "knn_multiprobe",
    sql=_multiprobe_oracle_sql(),
    doc="Multi-probe SRP-LSH k-NN (Lv et al. 2007, "
        "ops/similarity.knn_multiprobe): corpus bucketed ONCE on 8 JL "
        "sign bits; each query probes its own bucket plus 4 Hamming-1 "
        "buckets chosen by ascending |p_j| (flip the least-confident "
        "hyperplane first), then exact-cosine rescores candidates. "
        "n_cand certifies the bounded work: ~nprobe*N/256 candidates "
        "per query instead of N. Recall is a runtime knob (nprobe), "
        "not a storage knob (hash tables) — why multi-probe replaced "
        "multi-table LSH at scale. The oracle replays probe ranking, "
        "XOR probing, and rescoring relationally.",
    tags=("similarity", "north-star"),
)
def knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    return (SIM.knn_multiprobe(e.select("vec_id", "embedding"), queries,
                               DIM, K, MP_BITS, MP_NPROBE)
               .select("q_id", "neighbor_id", "cos_sim", "rnk", "n_cand")
               .orderBy("q_id", "rnk"))


KNN_GRAPH_K = 8    # neighbors per node in the kNN graph
KCORE_K = 4        # core order: keep nodes with >= 4 surviving neighbors
KCORE_UNROLL = 12  # oracle peel rounds (max observed fixpoint: 5 at sf0.01)


def _kcore_oracle_sql() -> str:
    """Unrolled-peeling oracle: the Spark side runs Batagelj–Zaveršnik
    peeling to a TRUE fixpoint (ops/graph.kcore raises otherwise); the
    oracle unrolls KCORE_UNROLL relational rounds and rides a genuinely
    computed ``fixpoint_reached`` boolean (|e_N| == |e_{N-1}|). If the
    unroll were ever too short the rider flips false and the value hash
    diverges from Spark's fixpoint-guaranteed literal — the dedup_clusters
    self-verifying-rider precedent applied to an iterative carve-out."""
    rounds = [f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
        SELECT a.vec_id AS u, b.vec_id AS v,
               round(list_cosine_similarity(a.v, b.v), 6) AS c
        FROM d a JOIN d b ON a.vec_id <> b.vec_id
    ), r AS (
        SELECT u, v, row_number() OVER (PARTITION BY u
                                        ORDER BY c DESC, v) AS rk
        FROM s
    ), knn AS (
        SELECT u, v FROM r WHERE rk <= {KNN_GRAPH_K}
    ), e0 AS MATERIALIZED (
        -- mutual-kNN symmetrization: keep (u,v) only if each is in the
        -- other's top-K (undirected, stored once as u < v)
        SELECT a.u AS u, a.v AS v
        FROM knn a JOIN knn b ON a.u = b.v AND a.v = b.u
        WHERE a.u < a.v
    )"""]
    for i in range(KCORE_UNROLL):
        rounds.append(f"""
    , k{i} AS MATERIALIZED (
        -- each e CTE is MATERIALIZED: default CTE inlining would
        -- expand the peel chain exponentially (3 refs per round)
        SELECT n FROM (
            SELECT u AS n FROM e{i} UNION ALL SELECT v FROM e{i}
        ) GROUP BY n HAVING count(*) >= {KCORE_K}
    ), e{i + 1} AS MATERIALIZED (
        SELECT u, v FROM e{i}
        WHERE u IN (SELECT n FROM k{i}) AND v IN (SELECT n FROM k{i})
    )""")
    n = KCORE_UNROLL
    rounds.append(f"""
    , fix AS (
        SELECT ((SELECT count(*) FROM e{n}) =
                (SELECT count(*) FROM e{n - 1})) AS fixpoint_reached
    )
    SELECT node, CAST(count(*) AS BIGINT) AS core_deg, fixpoint_reached
    FROM (SELECT u AS node FROM e{n} UNION ALL SELECT v FROM e{n})
    CROSS JOIN fix
    GROUP BY node, fixpoint_reached
    ORDER BY node""")
    return "".join(rounds)


@register(
    "knn_graph_kcore",
    sql=_kcore_oracle_sql(),
    doc="Dense-community extraction from the embedding space: exact "
        "mutual-kNN graph (each vector keeps its top-8 cosine "
        "neighbors; an edge survives only if BOTH endpoints keep it) "
        "then the 4-core by distributed Batagelj–Zaveršnik peeling "
        "(ops/graph.kcore — each round one degree aggregate + two "
        "left-semi joins, edge set only shrinks, localCheckpoint per "
        "round). Emits every core member with its in-core degree. "
        "Training-data use: the k-core of a semantic kNN graph is the "
        "over-represented region of the corpus — the natural input to "
        "density-based downsampling after SemDeDup removes near-exact "
        "copies. The all-pairs kNN build is the guarded EVAL path "
        "(corpus is the bounded query panel, allow_large opt-in); at "
        "production scale the graph comes from knn_ivf/knn_multiprobe "
        "candidates instead — identical downstream graph + peel. "
        "Oracle: unrolled relational peeling with a computed "
        "fixpoint_reached rider (see _kcore_oracle_sql).",
    tags=("similarity", "graph", "north-star"),
)
def knn_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.graph import kcore
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding")
    queries = e.select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec"))
    knn = (SIM.knn_bruteforce(corpus, queries, KNN_GRAPH_K,
                              allow_large=True)
              .select(F.col("q_id").alias("u"),
                      F.col("neighbor_id").alias("v")))
    mutual = (knn.alias("a")
                 .join(knn.alias("b"),
                       (F.col("a.u") == F.col("b.v"))
                       & (F.col("a.v") == F.col("b.u")))
                 .filter(F.col("a.u") < F.col("a.v"))
                 .select(F.col("a.u").alias("u"), F.col("a.v").alias("v")))
    core = kcore(mutual, KCORE_K, "u", "v")
    # fixpoint_reached: kcore() raises on non-convergence, so Spark's
    # rider is True by construction; the ORACLE computes it from its
    # unrolled rounds — a too-short unroll hash-mismatches here.
    return (core.select("node", "core_deg",
                        F.lit(True).alias("fixpoint_reached"))
                .orderBy("node"))


# ---------------------------------------------------------------------------
# Product quantization (ops/pq.py; Jégou et al. 2011). The oracle
# replays TRAINING + ENCODING + ADC PROBING end-to-end: md5-seeded
# init, each Lloyd iteration unrolled to MATERIALIZED CTEs, all in
# integer micro-units (floor(v*1e6)) so squared distances, floor-mean
# centroid updates, and packed codes are engine-exact.
# ---------------------------------------------------------------------------

from hops_spark.ops.pq import PQ_MICRO  # noqa: E402

PQ_M = 8          # subspaces
PQ_K = 16         # codes per subspace
PQ_DS = DIM // PQ_M
PQ_ITERS = 2      # Lloyd iterations (unrolled in the oracle)
PQ_BITS = 4       # bits per code in the packed BIGINT
PQ_NQ = 4         # ADC query panel: vec_id < PQ_NQ
PQ_TOPK = 10


def _pq_assign_cte(name: str, cb: str) -> str:
    return f"""{name} AS MATERIALIZED (
        SELECT v.vec_id, v.sub, v.sv,
               CAST((min([
                   CAST(list_sum(list_transform(range(1, {PQ_DS + 1}),
                        i -> (v.sv[i] - c.sv[i]) * (v.sv[i] - c.sv[i])))
                        AS BIGINT),
                   CAST(c.code AS BIGINT)]))[2] AS INTEGER) AS code
        FROM subs v JOIN {cb} c USING (sub)
        GROUP BY v.vec_id, v.sub, v.sv
    )"""


def _pq_train_ctes(pre: str = "", subs_body: str | None = None) -> str:
    """cb0 -> (assign, mean-update) x PQ_ITERS -> cb{ITERS} -> afin.
    ``pre`` inserts CTEs between emb and subs (the residual variant
    needs cells + centroid micros first); ``subs_body`` overrides what
    a (vec_id, sub, sv) row IS — plain subvectors by default, residual
    subvectors for IVFADC. Everything downstream (init, Lloyd, final
    assign) is shared verbatim."""
    if subs_body is None:
        subs_body = f"""
        SELECT vec_id, s.s AS sub,
               xm[s.s * {PQ_DS} + 1 : s.s * {PQ_DS} + {PQ_DS}] AS sv
        FROM emb, (SELECT unnest(range(0, {PQ_M})) AS s) s"""
    blocks = [f"""WITH emb AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   v -> CAST(FLOOR(CAST(v AS DOUBLE) * {PQ_MICRO})
                        AS BIGINT)) AS xm
        FROM embeddings
    ){", " + pre if pre else ""}, subs AS MATERIALIZED ({subs_body}
    ), cb0 AS MATERIALIZED (
        SELECT sub, CAST(rn - 1 AS INTEGER) AS code, sv FROM (
            SELECT sub, sv,
                   row_number() OVER (PARTITION BY sub
                       ORDER BY md5(CAST(vec_id AS VARCHAR) || '|' ||
                                    CAST(sub AS VARCHAR)), vec_id) AS rn
            FROM subs) t
        WHERE rn <= {PQ_K}
    )"""]
    for t in range(PQ_ITERS):
        blocks.append(_pq_assign_cte(f"a{t}", f"cb{t}"))
        blocks.append(f"""u{t} AS (
        SELECT sub, code, p.i AS pos,
               CAST(FLOOR(CAST(sum(sv[p.i]) AS DOUBLE) / count(*))
                    AS BIGINT) AS c
        FROM a{t}, (SELECT unnest(range(1, {PQ_DS + 1})) AS i) p
        GROUP BY sub, code, p.i
    )""")
        blocks.append(f"""cb{t + 1} AS MATERIALIZED (
        SELECT p.sub, p.code, COALESCE(n.sv, p.sv) AS sv
        FROM cb{t} p LEFT JOIN (
            SELECT sub, code, list(c ORDER BY pos) AS sv
            FROM u{t} GROUP BY sub, code) n
        ON n.sub = p.sub AND n.code = p.code
    )""")
    blocks.append(_pq_assign_cte("afin", f"cb{PQ_ITERS}"))
    return ", ".join(blocks)


@register(
    "pq_encode",
    sql=f"""{_pq_train_ctes()}
    SELECT vec_id,
           CAST(sum(code * CAST(pow(2, {PQ_BITS} * sub) AS BIGINT))
                AS BIGINT) AS pq_code
    FROM afin GROUP BY vec_id ORDER BY vec_id
    """,
    doc="Product quantization (Jégou et al. 2011) trained and applied "
        "distributed: md5-seeded per-subspace codebooks, two Lloyd "
        "iterations (map-only assignment vs the literal codebook + one "
        "(sub, code, dim) mean aggregate per iteration — the codebook "
        "is driver metadata like IVF), every vector stored as m codes "
        "packed into ONE BIGINT (4 bits x 8 subspaces = 32 bits vs 64 "
        "floats, a 64x compression). Fixed-point micro-units keep "
        "training and encoding bit-reproducible — the oracle replays "
        "the full pipeline as unrolled MATERIALIZED CTEs.",
    tags=("similarity", "north-star", "ml"),
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops import pq as PQ
    e = load_table(spark, sf_dir, "embeddings")
    cb = PQ.pq_train(e, m=PQ_M, k=PQ_K, d=DIM, iters=PQ_ITERS)
    return (PQ.pq_encode(e, cb, m=PQ_M, k=PQ_K, d=DIM)
              .orderBy("vec_id"))


@register(
    "pq_adc_topk",
    sql=f"""{_pq_train_ctes()}, qsubs AS (
        SELECT vec_id AS q_id, sub, sv FROM subs WHERE vec_id < {PQ_NQ}
    ), dtab AS MATERIALIZED (
        SELECT q.q_id, c.sub, c.code,
               CAST(list_sum(list_transform(range(1, {PQ_DS + 1}),
                    i -> (q.sv[i] - c.sv[i]) * (q.sv[i] - c.sv[i])))
                    AS BIGINT) AS dpart
        FROM qsubs q JOIN cb{PQ_ITERS} c USING (sub)
    ), scored AS (
        SELECT d.q_id, a.vec_id, CAST(sum(d.dpart) AS BIGINT) AS adc_dist
        FROM afin a JOIN dtab d ON d.sub = a.sub AND d.code = a.code
        GROUP BY d.q_id, a.vec_id
    ), ranked AS (
        SELECT q_id, vec_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT q_id, rank, vec_id, adc_dist FROM ranked
    WHERE rank <= {PQ_TOPK} ORDER BY q_id, rank
    """,
    doc="Asymmetric distance computation over the PQ codes: per query "
        "one m x k integer lookup table (broadcast), per candidate m "
        "table lookups summed through its stored (sub, code) rows — "
        "the original vectors are never read at probe time, which is "
        "the PQ serving promise. Top-k per query with the (distance, "
        "vec_id) tie-break; integer arithmetic end-to-end makes the "
        "ADC ranking itself oracle-exact.",
    tags=("similarity", "north-star"),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops import pq as PQ
    e = load_table(spark, sf_dir, "embeddings")
    cb = PQ.pq_train(e, m=PQ_M, k=PQ_K, d=DIM, iters=PQ_ITERS)
    q = (e.filter(F.col("vec_id") < PQ_NQ)
          .select(F.col("vec_id").alias("q_id"), "embedding"))
    return (PQ.pq_adc_topk(e, q, cb, m=PQ_M, k=PQ_K, d=DIM,
                           topk=PQ_TOPK)
              .orderBy("q_id", "rank"))


IVFPQ_NPROBE = 2
IVFPQ_R = 32      # ADC shortlist size fed to the exact rerank


def _ivfpq_ctes() -> str:
    """The full IVF-PQ replay up through `ranked` (ADC ranking over
    the probed cells) — shared by ivfpq_probe and ivfpq_rerank (one
    expression source, the never-write-twice rule)."""
    return f"""{_pq_train_ctes()}, d AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, v AS cv FROM d
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_CELLS}
    ), assign AS (
        SELECT d.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6) DESC,
                            c.cid DESC) AS rn
        FROM d CROSS JOIN cent c
    ), cells AS (
        SELECT vec_id, cid AS cell FROM assign WHERE rn = 1
    ), qprobe AS (
        SELECT vec_id AS q_id, cid AS cell
        FROM assign WHERE vec_id < {PQ_NQ} AND rn <= {IVFPQ_NPROBE}
    ), dtab AS MATERIALIZED (
        SELECT q.vec_id AS q_id, c.sub, c.code,
               CAST(list_sum(list_transform(range(1, {PQ_DS + 1}),
                    i -> (q.sv[i] - c.sv[i]) * (q.sv[i] - c.sv[i])))
                    AS BIGINT) AS dpart
        FROM (SELECT * FROM subs WHERE vec_id < {PQ_NQ}) q
        JOIN cb{PQ_ITERS} c USING (sub)
    ), scored AS (
        SELECT p.q_id, c.vec_id AS neighbor_id,
               CAST(sum(t.dpart) AS BIGINT) AS adc_dist
        FROM cells c
        JOIN qprobe p USING (cell)
        JOIN afin a ON a.vec_id = c.vec_id
        JOIN dtab t ON t.q_id = p.q_id AND t.sub = a.sub
                   AND t.code = a.code
        WHERE c.vec_id <> p.q_id
        GROUP BY p.q_id, c.vec_id
    ), ranked AS (
        SELECT q_id, neighbor_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_dist, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )"""


@register(
    "ivfpq_probe",
    # Oracle composes the two proven chains: the ann_probe coarse-cell
    # replay (md5-sampled codebook, rounded-cosine argmax, nprobe
    # probing) and the PQ training/ADC replay (_pq_train_ctes) — the
    # FAISS IVFPQ architecture end-to-end in SQL.
    sql=f"""{_ivfpq_ctes()}
    SELECT q_id, rank, neighbor_id, adc_dist FROM ranked
    WHERE rank <= {PQ_TOPK} ORDER BY q_id, rank
    """,
    doc="IVF-PQ serving index end-to-end (the FAISS IVFPQ layout): "
        "vectors assigned to md5-sampled coarse cells and stored as "
        "ONE packed BIGINT of PQ codes in cell-partitioned parquet "
        "(8 bytes + id per vector vs 256 bytes of float32); the probe "
        "prunes the scan to nprobe cell partitions, unpacks codes "
        "with exact dyadic shifts, and ranks by integer ADC — the "
        "original vectors are read by NEITHER the candidate scan NOR "
        "the ranking. Matching hashes prove the on-disk compressed "
        "index returns exactly what the relational IVFPQ definition "
        "demands.",
    tags=("similarity", "north-star", "io"),
)
def ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hops_spark.ops import pq as PQ
    from hops_spark.session import scratch_dir

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, N_CELLS)
    cb = PQ.pq_train(e, m=PQ_M, k=PQ_K, d=DIM, iters=PQ_ITERS)
    index_dir = os.path.join(scratch_dir("ivfpq_probe", sf_dir), "vectors")
    PQ.build_pq_cell_index(e, cents, cb, index_dir, m=PQ_M, k=PQ_K, d=DIM)
    queries = (e.filter(F.col("vec_id") < PQ_NQ)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    top, _cells = PQ.probe_pq_cell_index(
        spark, index_dir, cents, cb, queries, m=PQ_M, k=PQ_K, d=DIM,
        topk=PQ_TOPK, nprobe=IVFPQ_NPROBE)
    return top.orderBy("q_id", "rank")


@register(
    "ivfpq_rerank",
    # The production two-stage answer: ADC shortlist of R candidates
    # from the compressed index, then exact rounded-cosine rerank
    # against the full-precision source vectors — the FAISS refine
    # step. Shares the whole IVF-PQ chain with ivfpq_probe.
    sql=f"""{_ivfpq_ctes()}, short AS (
        SELECT q_id, neighbor_id FROM ranked WHERE rank <= {IVFPQ_R}
    ), rer AS (
        SELECT s.q_id, s.neighbor_id,
               round(list_cosine_similarity(cv.v, qv.v), 6) AS cos_sim
        FROM short s
        JOIN d cv ON cv.vec_id = s.neighbor_id
        JOIN d qv ON qv.vec_id = s.q_id
    ), rranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM rer
    )
    SELECT q_id, neighbor_id, cos_sim, rnk FROM rranked
    WHERE rnk <= {PQ_TOPK} ORDER BY q_id, rnk
    """,
    doc="Two-stage IVF-PQ serving (probe + refine): the compressed "
        "index produces an R-candidate ADC shortlist (pruned scan, no "
        "float vectors), then ONLY those R ids per query are looked up "
        "at full precision and reranked by exact rounded cosine "
        "(ops/similarity.rerank_exact — the shortlist broadcasts, the "
        "corpus is never rescanned). This is how a 100 TB vector "
        "corpus actually serves: 99% of the work on 8-byte codes, "
        "full precision only for the final handful.",
    tags=("similarity", "north-star", "io"),
)
def ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hops_spark.ops import pq as PQ
    from hops_spark.session import scratch_dir

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, N_CELLS)
    cb = PQ.pq_train(e, m=PQ_M, k=PQ_K, d=DIM, iters=PQ_ITERS)
    index_dir = os.path.join(scratch_dir("ivfpq_rerank", sf_dir), "vectors")
    PQ.build_pq_cell_index(e, cents, cb, index_dir, m=PQ_M, k=PQ_K, d=DIM)
    queries = (e.filter(F.col("vec_id") < PQ_NQ)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    short, _cells = PQ.probe_pq_cell_index(
        spark, index_dir, cents, cb, queries, m=PQ_M, k=PQ_K, d=DIM,
        topk=IVFPQ_R, nprobe=IVFPQ_NPROBE)
    top = SIM.rerank_exact(e, queries, short, k=PQ_TOPK)
    return top.select("q_id", "neighbor_id", "cos_sim", "rnk") \
              .orderBy("q_id", "rnk")


@register(
    "embedding_covariance",
    # Fixed-point covariance (ops/pca.covariance_pairs): integer-micro
    # snap, integer floor means, per-element integer products, one
    # bounded (i, j) aggregate — every step engine-exact. The
    # eigendecomposition/whitening that CONSUMES this matrix is
    # BLAS-backed and pytest-only (note-37 rule); the matrix itself is
    # the oracle-provable part.
    sql=f"""
    WITH emb AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000)
                        AS BIGINT)) AS xm
        FROM embeddings
    ), n AS (
        SELECT count(*) AS nv FROM emb
    ), mu AS MATERIALIZED (
        SELECT p.i AS i,
               CAST(FLOOR(CAST(sum(xm[p.i]) AS DOUBLE) / count(*))
                    AS BIGINT) AS mu
        FROM emb, (SELECT unnest(range(1, {DIM + 1})) AS i) p
        GROUP BY p.i
    ), mul AS (
        SELECT list(mu ORDER BY i) AS m FROM mu
    ), cx AS MATERIALIZED (
        SELECT e.vec_id,
               list_transform(range(1, {DIM + 1}),
                              i -> e.xm[i] - mul.m[i]) AS c
        FROM emb e, mul
    )
    SELECT CAST(p.i - 1 AS INTEGER) AS i, CAST(q.j - 1 AS INTEGER) AS j,
           CAST(FLOOR(CAST(sum(c.c[p.i] * c.c[q.j]) AS DOUBLE)
                      / (CAST(n.nv AS DOUBLE) * 1000000)) AS BIGINT)
               AS cov_micro
    FROM cx c, (SELECT unnest(range(1, {DIM + 1})) AS i) p,
         (SELECT unnest(range(1, {DIM + 1})) AS j) q, n
    WHERE p.i <= q.j
    GROUP BY p.i, q.j, n.nv
    ORDER BY i, j
    """,
    doc="Mean-centered embedding covariance (upper triangle, micro-"
        "units) — the PCA/whitening input for embedding curation "
        "(SemDeDup-style preprocessing clusters in a whitened space). "
        "Fixed-point end-to-end: integer means, integer products, one "
        "keyed aggregate bounded by d(d+1)/2 cells with map-side "
        "partials — per executor the shuffle payload is d(d+1)/2 "
        "partial sums, nothing row-proportional. The d x d result is "
        "driver metadata (the codebook idiom).",
    tags=("similarity", "ml", "north-star"),
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hops_spark.ops.pca import covariance_pairs
    e = load_table(spark, sf_dir, "embeddings")
    return covariance_pairs(e, DIM).orderBy("i", "j")


# Residual (IVFADC-proper) variant: the coarse-cell block moves BEFORE
# training, subs become residual subvectors, and the ADC table is built
# per (query, probed cell) from the query's residual against that cell.
_RESIDUAL_PRE = f"""d AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, v AS cv FROM d
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_CELLS}
    ), assign AS (
        SELECT d.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6) DESC,
                            c.cid DESC) AS rn
        FROM d CROSS JOIN cent c
    ), cells AS (
        SELECT vec_id, cid AS cell FROM assign WHERE rn = 1
    ), cmicro AS (
        SELECT cid, list_transform(cv,
                   v -> CAST(FLOOR(v * {PQ_MICRO}) AS BIGINT)) AS cm
        FROM cent
    ), res AS MATERIALIZED (
        SELECT e.vec_id, c.cell,
               list_transform(range(1, {DIM + 1}),
                              i -> e.xm[i] - cm.cm[i]) AS rm
        FROM emb e JOIN cells c USING (vec_id)
        JOIN cmicro cm ON cm.cid = c.cell
    )"""

_RESIDUAL_SUBS = f"""
        SELECT vec_id, s.s AS sub,
               rm[s.s * {PQ_DS} + 1 : s.s * {PQ_DS} + {PQ_DS}] AS sv
        FROM res, (SELECT unnest(range(0, {PQ_M})) AS s) s"""


@register(
    "ivfpq_residual",
    sql=f"""{_pq_train_ctes(pre=_RESIDUAL_PRE, subs_body=_RESIDUAL_SUBS)},
    qprobe AS (
        SELECT vec_id AS q_id, cid AS cell
        FROM assign WHERE vec_id < {PQ_NQ} AND rn <= {IVFPQ_NPROBE}
    ), qres AS MATERIALIZED (
        SELECT p.q_id, p.cell, s.s AS sub,
               list_transform(range(s.s * {PQ_DS} + 1, s.s * {PQ_DS} + {PQ_DS} + 1),
                              i -> e.xm[i] - cm.cm[i]) AS sv
        FROM qprobe p
        JOIN emb e ON e.vec_id = p.q_id
        JOIN cmicro cm ON cm.cid = p.cell,
        (SELECT unnest(range(0, {PQ_M})) AS s) s
    ), dtab AS MATERIALIZED (
        SELECT q.q_id, q.cell, c.sub, c.code,
               CAST(list_sum(list_transform(range(1, {PQ_DS + 1}),
                    i -> (q.sv[i] - c.sv[i]) * (q.sv[i] - c.sv[i])))
                    AS BIGINT) AS dpart
        FROM qres q JOIN cb{PQ_ITERS} c USING (sub)
    ), scored AS (
        SELECT t.q_id, cl.vec_id AS neighbor_id,
               CAST(sum(t.dpart) AS BIGINT) AS adc_dist
        FROM cells cl
        JOIN afin a ON a.vec_id = cl.vec_id
        JOIN dtab t ON t.cell = cl.cell AND t.sub = a.sub
                   AND t.code = a.code
        WHERE cl.vec_id <> t.q_id
        GROUP BY t.q_id, cl.vec_id
    ), ranked AS (
        SELECT q_id, neighbor_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_dist, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT q_id, rank, neighbor_id, adc_dist FROM ranked
    WHERE rank <= {PQ_TOPK} ORDER BY q_id, rank
    """,
    doc="IVFADC proper (Jégou et al. 2011 §IV): PQ codebooks trained "
        "on RESIDUALS x - c_cell (quantizing residuals concentrates "
        "what each sub-codebook must cover — measured recall gain over "
        "plain IVF-PQ in the pytest), index rows are (id, cell, packed "
        "residual codes), and the probe builds its ADC table per "
        "(query, probed cell) from the query's residual against that "
        "cell — approximating ||q - (c_cell + recon)||^2. The oracle "
        "replays coarse assignment, residual computation, residual "
        "Lloyd training, encoding, and per-cell ADC end-to-end.",
    tags=("similarity", "north-star", "io"),
)
def ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hops_spark.ops import pq as PQ
    from hops_spark.session import scratch_dir

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, N_CELLS)
    rcb = PQ.train_residual_pq(e, cents, m=PQ_M, k=PQ_K, d=DIM,
                               iters=PQ_ITERS)
    index_dir = os.path.join(scratch_dir("ivfpq_residual", sf_dir),
                             "vectors")
    PQ.build_residual_pq_index(e, cents, rcb, index_dir,
                               m=PQ_M, k=PQ_K, d=DIM)
    queries = (e.filter(F.col("vec_id") < PQ_NQ)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    top, _cells = PQ.probe_residual_pq(
        spark, index_dir, cents, rcb, queries, m=PQ_M, k=PQ_K, d=DIM,
        topk=PQ_TOPK, nprobe=IVFPQ_NPROBE)
    return top.orderBy("q_id", "rank")


@register(
    "ann_index_stats",
    sql=f"""
    WITH d AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, v AS cv FROM d
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {N_CELLS}
    ), assign AS (
        SELECT d.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY round(list_cosine_similarity(d.v, c.cv), 6) DESC,
                            c.cid DESC) AS rn
        FROM d CROSS JOIN cent c
    ), cells AS (
        SELECT vec_id, cid AS cell FROM assign WHERE rn = 1
    ), tot AS (
        SELECT count(*) AS n FROM cells
    )
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(*) * 1000000 // tot.n AS BIGINT) AS share_ppm
    FROM cells, tot
    GROUP BY cell, tot.n
    ORDER BY cell
    """,
    doc="Serving-index observability: per-cell member counts and "
        "corpus share (integer ppm) for the IVF cell assignment — the "
        "balance report an operator reads before picking nprobe or "
        "deciding a codebook rebuild (a hot cell means every probe "
        "touching it scans its whole partition; the skew diagnosis "
        "feeds the same salting/rebuild decisions as skew_salt_plan). "
        "One argmax pass + one keyed count, bounded by n_cells rows.",
    tags=("similarity", "io"),
)
def ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SIM.ivf_centroids(e, N_CELLS)
    cell_of = F.array_max(SIM._cell_sims(F.col("embedding"), cents)) \
               .getField("cell")
    cells = e.select(cell_of.alias("cell"))
    n = cells.count()
    return (cells.groupBy("cell")
                 .agg(F.count("*").alias("n_vectors"))
                 .withColumn("share_ppm",
                             F.floor(F.col("n_vectors") * 1000000
                                     / F.lit(n)).cast("long"))
                 .orderBy("cell"))


HN_DUP_T = NEAR_DUP_THRESHOLD


@register(
    "hard_negatives",
    sql=f"""
    WITH d AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, v AS qv, label AS q_label
        FROM d WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.q_id, d.vec_id AS neighbor_id,
               CAST(d.label AS INT) AS neg_label,
               round(list_cosine_similarity(d.v, q.qv), 6) AS cos_sim
        FROM d CROSS JOIN q
        WHERE d.vec_id <> q.q_id AND d.label <> q.q_label
    ), ranked AS (
        SELECT q_id, neighbor_id, neg_label, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored WHERE cos_sim < {HN_DUP_T}
    )
    SELECT q_id, neighbor_id, neg_label, cos_sim, rnk
    FROM ranked WHERE rnk <= {K}
    ORDER BY q_id, rnk
    """,
    doc="Hard-negative mining for contrastive training (ANCE-style, "
        "Xiong et al. 2021): per query the nearest DIFFERENT-label "
        "vectors below the near-dup threshold — same-class or "
        "near-duplicate hits are false negatives and are filtered "
        "BEFORE ranking so every query yields a full top-k. Exact-eval "
        "face over the bounded query panel (the knn_recall "
        "discipline); the serving path applies the same filters to "
        "the IVF/PQ shortlist. ops/similarity.hard_negatives.",
    tags=("similarity", "north-star"),
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec"),
                        F.col("label").alias("q_label")))
    return (SIM.hard_negatives(e.select("vec_id", "embedding", "label"),
                               queries, K, HN_DUP_T)
               .select("q_id", "neighbor_id",
                       F.col("neg_label").cast("int").alias("neg_label"),
                       "cos_sim", "rnk")
               .orderBy("q_id", "rnk"))


MP_CURVE = (1, 3, 5)


def _mp_recall_curve_sql() -> str:
    """Recall@K + candidate volume at nprobe ∈ MP_CURVE, sharing ONE
    bucket/probe-ranking chain (qv→p→d→q→flips — identical to the
    knn_multiprobe oracle) plus the brute-force truth; per nprobe only
    the probe cutoff differs."""
    p_cols = ",\n               ".join(
        f"{_jl_p_expr(DIM, j)} AS p{j}" for j in range(MP_BITS))
    bits = " + ".join(
        f"(CASE WHEN p{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(MP_BITS))
    abs_case = " ".join(
        f"WHEN {j} THEN abs(p{j})" for j in range(MP_BITS))
    p_list = ", ".join(f"p{j}" for j in range(MP_BITS))
    per_np = []
    finals = []
    for np_ in MP_CURVE:
        per_np.append(f"""probes{np_} AS (
        SELECT q_id, bucket AS probe FROM q
        UNION ALL
        SELECT f.q_id, xor(q.bucket, 1 << f.j) AS probe
        FROM flips f JOIN q USING (q_id) WHERE f.r <= {np_ - 1}
    ), cand{np_} AS (
        SELECT q.q_id, q.qv, d.vec_id AS neighbor_id, d.v
        FROM probes{np_} pr JOIN q USING (q_id)
        JOIN d ON d.bucket = pr.probe
        WHERE d.vec_id <> q.q_id
    ), app{np_} AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q_id, neighbor_id,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY round(list_cosine_similarity(v, qv), 6)
                                DESC, neighbor_id) AS rnk
            FROM cand{np_}
        ) WHERE rnk <= {K}
    )""")
        finals.append(f"""
        SELECT CAST({np_} AS BIGINT) AS nprobe,
               CAST((SELECT count(*) FROM exact e JOIN app{np_} a
                     USING (q_id, neighbor_id)) * 1000000 //
                    (SELECT count(*) FROM exact) AS BIGINT)
                 AS mean_recall_ppm,
               CAST((SELECT count(*) FROM cand{np_}) AS BIGINT)
                 AS total_cand""")
    return f"""
    WITH qv AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE)
                                              * {SIM.JL_QUANT}) AS BIGINT))
                   AS q
        FROM embeddings
    ), p AS (
        SELECT vec_id,
               {p_cols}
        FROM qv
    ), d AS (
        SELECT p.vec_id, e.embedding::DOUBLE[] AS v,
               CAST({bits} AS BIGINT) AS bucket, {p_list}
        FROM p JOIN embeddings e USING (vec_id)
    ), q AS (
        SELECT vec_id AS q_id, v AS qv, bucket, {p_list}
        FROM d WHERE vec_id < {N_QUERIES}
    ), flips AS (
        SELECT q_id, j,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY CASE j {abs_case} END, j) AS r
        FROM q CROSS JOIN (SELECT unnest(range({MP_BITS})) AS j) js
    ), exact AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, d.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.q_id
                       ORDER BY round(list_cosine_similarity(d.v, q.qv), 6)
                                DESC, d.vec_id) AS rnk
            FROM d CROSS JOIN q WHERE d.vec_id <> q.q_id
        ) WHERE rnk <= {K}
    ), {", ".join(per_np)}
    {" UNION ALL ".join(finals)}
    ORDER BY nprobe
    """


@register(
    "mp_recall_curve",
    sql=_mp_recall_curve_sql(),
    doc="The ANN serving TRADEOFF CURVE: mean recall@k and candidate "
        "volume at nprobe ∈ (1, 3, 5) for the multi-probe SRP-LSH "
        "path against brute-force truth — the eval every deployment "
        "runs to pick its latency/recall operating point (Lv et al. "
        "2007's headline figure as an oracle-hashed table). One "
        "bucket/probe-ranking chain shared across the curve; only "
        "the probe cutoff differs per row. total_cand certifies the "
        "cost axis, mean_recall_ppm the quality axis.",
    tags=("similarity", "eval", "north-star"),
)
def mp_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shared pipeline for the whole curve: the corpus is
    projected+bucketed ONCE and candidates carry their probe RANK
    (posexplode of the ranked probe keys) — a corpus item has exactly
    one bucket, so the nprobe=N candidate set is just the rank<N
    filter over one cached frame; only the cheap top-k/count jobs run
    per curve point (first draft rebuilt the multiprobe pipeline per
    nprobe: 25 s -> ~8 s at sf0.01)."""
    from hops_spark.ops.similarity import (jl_project, multiprobe_keys,
                                           srp_bucket)

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding")
    queries = (e.filter(F.col("vec_id") < N_QUERIES)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))
    exact = (SIM.knn_bruteforce(corpus, queries, K)
             .select("q_id", "neighbor_id").localCheckpoint(eager=True))
    n_exact = exact.count()
    max_np = max(MP_CURVE)
    cb = (jl_project(corpus, "embedding", DIM, MP_BITS)
          .withColumn("_bucket", srp_bucket(MP_BITS))
          .select("vec_id", "embedding", "_bucket"))
    qb = (jl_project(queries, "q_vec", DIM, MP_BITS)
          .select("q_id", "q_vec",
                  F.posexplode(multiprobe_keys(MP_BITS, max_np))
                   .alias("_pr", "_bucket")))
    scored = (SIM.cosine_pairs(cb, qb, "_bucket")
                 .select("q_id", "neighbor_id", "cos_sim", "_pr")
                 .localCheckpoint(eager=True))
    out = None
    for np_ in MP_CURVE:
        c = scored.filter(F.col("_pr") < np_)
        top = SIM.top_k_neighbors(c, K)
        hits = exact.join(top.select("q_id", "neighbor_id"),
                          ["q_id", "neighbor_id"], "left_semi").count()
        total_cand = c.count()
        row = spark.range(1).select(
            F.lit(np_).cast("long").alias("nprobe"),
            F.lit(hits * 1_000_000 // n_exact).cast("long")
             .alias("mean_recall_ppm"),
            F.lit(int(total_cand)).cast("long").alias("total_cand"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")

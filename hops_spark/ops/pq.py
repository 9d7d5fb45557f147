"""Product quantization (public: Jégou, Douze, Schmid 2011, "Product
Quantization for Nearest Neighbor Search") — the classic billion-scale
ANN compression: split each d-dim vector into ``m`` subspaces, learn a
tiny k-means codebook per subspace, store each vector as ``m`` small
codes (here packed into ONE BIGINT), and answer queries with
asymmetric distance computation (ADC): per query, one m×k lookup
table; per candidate, ``m`` table lookups and adds — no float vector
ever touched at probe time.

Everything here runs in FIXED-POINT integer micro-units
(x_micro = floor(x * 1e6) per element, the linear-probe discipline):
distances are integer sums of squared integer differences, codebook
means are floor(sum/count) with the sum BIGINT-exact, and every argmin
tie-breaks toward the smaller code id — so training, encoding, and ADC
ranking are all bit-reproducible by a SQL engine, fold-order-proof,
and oracle-checkable (contrast the GEMM kNN paths, which are
pytest-only by the BLAS last-ulp rule).

Scale shape: training per iteration is one map-only assign (codebook
rides as Column literals — m*k = 128 cells, far under the ~4k-literal
analysis wall) plus one (sub, code, dim) aggregate bounded by m*k*d_sub
cells; the codebook is driver metadata (the IVF contract). Encoding is
map-only. ADC probing broadcasts the per-query lookup table (n_q*m*k
rows) against the code table and never touches the original vectors.
Reference parity: hadoop has no ANN surface; this extends SURVEY §2's
similarity family (same role as ops/similarity.knn_ivf)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hops_spark.ops.litfast import lit_array
from hops_spark.ops.sort import top_k_per_group

PQ_MICRO = 1_000_000

Codebook = dict[tuple[int, int], list[int]]   # (sub, code) -> centroid micros


def pq_subvectors(df: DataFrame, m: int, d: int, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """(id, sub, sv): each vector floor-snapped to integer micros and
    split into ``m`` contiguous subspaces of d/m dims. Map-only."""
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    ds = d // m
    xm = F.transform(F.col(vec_col),
                     lambda v: F.floor(v.cast("double") * PQ_MICRO)
                                .cast("long"))
    return (df.select(F.col(id_col), xm.alias("_xm"),
                      F.explode(F.array(*[F.lit(s) for s in range(m)]))
                       .alias("sub"))
              .select(F.col(id_col), "sub",
                      F.slice("_xm", F.col("sub") * ds + 1, ds).alias("sv")))


def _sq_dist(sv, cvec: list[int]):
    """Integer squared L2 distance between a subvector column and one
    literal centroid."""
    return F.aggregate(
        F.zip_with(sv, lit_array(cvec, "long"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def _assign_code(codebook: Codebook, m: int, k: int):
    """Column: nearest-centroid code for a (sub, sv) row; ties go to the
    smaller code id via struct-ordered array_min."""
    expr = None
    for s in range(m):
        cands = F.array(*[
            F.struct(_sq_dist(F.col("sv"), codebook[(s, c)]).alias("d"),
                     F.lit(c).alias("c"))
            for c in range(k)])
        pick = F.array_min(cands)["c"]
        # sub 0 is the unconditional fallback; each later sub wraps it
        expr = pick if expr is None else \
            F.when(F.col("sub") == s, pick).otherwise(expr)
    return expr.cast("int")


def pq_init_codebook(subs: DataFrame, m: int, k: int,
                     id_col: str = "vec_id") -> Codebook:
    """Deterministic seeding: per subspace, the k subvectors ranked
    first by (md5(id || '|' || sub), id) — the ivf_centroids discipline
    (hash-ordered, engine-reproducible). One windowed rank bounded to
    k rows per sub; collect is m*k rows of driver metadata."""
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|"),
                         F.col("sub").cast("string")))
    w = Window.partitionBy("sub").orderBy(key, F.col(id_col))
    rows = (subs.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k)
                .select("sub", (F.col("_rn") - 1).alias("code"), "sv")
                .collect())
    return {(int(r["sub"]), int(r["code"])): [int(x) for x in r["sv"]]
            for r in rows}


def pq_train(df: DataFrame, m: int = 8, k: int = 16, d: int = 64,
             iters: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding") -> Codebook:
    """Lloyd refinement per subspace, all subspaces in one pass per
    iteration: map-only assignment against the literal codebook, then
    one (sub, code, dim) mean aggregate (m*k*d/m cells), floor(sum /
    count) with the sum BIGINT-exact. Codes that lose every member keep
    their previous centroid (the ivf_kmeans_refine empty-cell rule)."""
    return pq_train_subs(pq_subvectors(df, m, d, id_col, vec_col),
                         m, k, d // m, iters, id_col)


def pq_train_subs(subs_df: DataFrame, m: int, k: int, ds: int,
                  iters: int = 2, id_col: str = "vec_id") -> Codebook:
    """Training core over a prepared (id, sub, sv) frame — shared by
    plain PQ (subvectors of the vector) and residual PQ (subvectors of
    vector minus coarse centroid, the IVFADC form)."""
    subs = subs_df.select(F.col(id_col), "sub", "sv").persist()
    cb = pq_init_codebook(subs, m, k, id_col)
    for _ in range(iters):
        assigned = subs.withColumn("code", _assign_code(cb, m, k))
        means = (assigned.select("sub", "code",
                                 F.posexplode("sv").alias("pos", "val"))
                         .groupBy("sub", "code", "pos")
                         .agg(F.floor(F.sum("val") / F.count("*"))
                               .cast("long").alias("c"))
                         .groupBy("sub", "code")
                         .agg(F.array_sort(F.collect_list(
                                  F.struct("pos", "c"))).alias("pc"))
                         .select("sub", "code",
                                 F.transform("pc", lambda s: s["c"])
                                  .alias("cv"))
                         .collect())
        new = {(int(r["sub"]), int(r["code"])): [int(x) for x in r["cv"]]
               for r in means}
        cb = {key: new.get(key, cv) for key, cv in cb.items()}
        assert all(len(v) == ds for v in cb.values())
    subs.unpersist()
    return cb


def pq_encode(df: DataFrame, codebook: Codebook, m: int = 8, k: int = 16,
              d: int = 64, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, pq_code): each vector's m nearest-centroid codes packed into
    one BIGINT as sum(code_s * 2^(bits*s)) with bits = ceil(log2 k) —
    the stored representation is 64/… bits per vector instead of d
    floats. Map-only + one per-id sum of m rows."""
    bits = max(1, (k - 1).bit_length())
    assert m * bits <= 62, "packed code must fit a BIGINT"
    subs = pq_subvectors(df, m, d, id_col, vec_col)
    coded = subs.withColumn("code", _assign_code(codebook, m, k))
    packed = (F.col("code").cast("long")
              * F.pow(F.lit(2.0), (F.col("sub") * bits).cast("double"))
                 .cast("long"))
    return (coded.groupBy(id_col)
                 .agg(F.sum(packed).alias("pq_code")))


def _adc_table(qsubs: DataFrame, codebook: Codebook,
               *keys: str) -> DataFrame:
    """ADC lookup table: (keys..., sub, code, dpart) with dpart the
    integer squared L2 of each query subvector to each centroid."""
    cb_rows = [(s, c, list(v)) for (s, c), v in sorted(codebook.items())]
    cb_df = qsubs.sparkSession.createDataFrame(
        cb_rows, "sub int, code int, cv array<bigint>")
    return (qsubs.join(F.broadcast(cb_df), "sub")
                 .select(*keys, "sub", "code",
                         F.aggregate(
                             F.zip_with("sv", "cv",
                                        lambda x, c: (x - c) * (x - c)),
                             F.lit(0).cast("long"),
                             lambda acc, x: acc + x).alias("dpart")))


def _adc_top(scored: DataFrame, topk: int, id_col: str,
             qid_col: str) -> DataFrame:
    """Per-query top-``topk`` by (adc_dist, id), ranked as ``rank``."""
    return top_k_per_group(scored, [qid_col], topk, "adc_dist", id_col,
                           rank_col="rank", keep_rank=True)


def _unpack_codes(pruned: DataFrame, m: int, k: int,
                  id_col: str) -> DataFrame:
    """(id, cell, sub, code) rows of the packed ``pq_code``:
    floor(pq_code / 2^(bits*s)) % k, an exact dyadic shift."""
    bits = max(1, (k - 1).bit_length())
    return (pruned.select(
        F.col(id_col), "cell",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.pmod(F.floor(F.col("pq_code")
                                    / F.lit(float(1 << (bits * s))))
                             .cast("long"),
                            F.lit(k)).cast("int").alias("code"))
            for s in range(m)])).alias("_sc"))
        .select(F.col(id_col), "cell", F.col("_sc.sub").alias("sub"),
                F.col("_sc.code").alias("code")))


def pq_adc_topk(df: DataFrame, queries: DataFrame, codebook: Codebook,
                m: int = 8, k: int = 16, d: int = 64, topk: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "q_id") -> DataFrame:
    """Asymmetric distance computation: per query, an m×k integer
    lookup table (squared L2 of the query subvector vs every centroid);
    per candidate, its approximate distance is the sum of m table
    lookups joined through the candidate's (sub, code) assignment.
    Output: (q_id, rank, vec_id, adc_dist) — top-k per query by
    (distance, vec_id), the deterministic tie-break.

    Plan: candidate codes are the stored map-only encoding; the lookup
    table (n_q*m*k rows — query panels are bounded) broadcasts into the
    join, the per-(q, vec) sum is one keyed aggregate, and the top-k is
    a per-query window. The original corpus vectors are never read at
    probe time — the PQ promise."""
    coded = (pq_subvectors(df, m, d, id_col, vec_col)
             .withColumn("code", _assign_code(codebook, m, k))
             .select(F.col(id_col), "sub", "code"))
    dtab = _adc_table(pq_subvectors(queries, m, d, qid_col, vec_col),
                      codebook, qid_col)
    scored = (coded.join(F.broadcast(dtab), ["sub", "code"])
                   .groupBy(qid_col, id_col)
                   .agg(F.sum("dpart").alias("adc_dist")))
    return (_adc_top(scored, topk, id_col, qid_col)
            .select(qid_col, "rank", id_col, "adc_dist"))


# --- IVF-PQ: the FAISS serving composition (coarse cells + PQ codes) ---


def build_pq_cell_index(corpus: DataFrame,
                        centroids: list[tuple[int, list[float]]],
                        codebook: Codebook, index_dir: str,
                        m: int = 8, k: int = 16, d: int = 64,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> None:
    """IVF-PQ index build: each vector assigned to its nearest coarse
    cell (the build_cell_index argmax, same rounded-cosine/larger-cell
    tie-break) and stored as ONE PACKED BIGINT of PQ codes, parquet
    partitioned BY CELL. Storage per vector is 8 bytes + id vs 256
    bytes of float32 — the FAISS IVFPQ layout: partition pruning gives
    the candidate set, ADC gives the ranking, and the original vectors
    are needed by neither."""
    from hops_spark.ops.similarity import _cell_sims
    cell_of = F.array_max(_cell_sims(F.col(vec_col), centroids)) \
               .getField("cell")
    codes = pq_encode(corpus, codebook, m, k, d, id_col, vec_col)
    (corpus.select(F.col(id_col), cell_of.alias("cell"))
           .join(codes, id_col)
           .write.mode("overwrite").partitionBy("cell").parquet(index_dir))


def probe_pq_cell_index(spark, index_dir: str,
                        centroids: list[tuple[int, list[float]]],
                        codebook: Codebook, queries: DataFrame,
                        m: int = 8, k: int = 16, d: int = 64,
                        topk: int = 10, nprobe: int = 2,
                        id_col: str = "vec_id", qid_col: str = "q_id",
                        qvec_col: str = "q_vec"
                        ) -> tuple[DataFrame, list[int]]:
    """Probe the IVF-PQ index: per query the nprobe nearest coarse
    cells (ops/similarity.probe_cells), scan statically
    pruned to the probed cell partitions, codes UNPACKED with exact
    dyadic shifts (floor(code / 2^(bits*s)) % k — pow-of-two division
    is an exponent shift, rule-of-house portable), then ADC: the
    per-query m x k integer lookup table broadcasts against the
    unpacked (sub, code) rows and one keyed sum ranks candidates.
    Self-matches are excluded (the ann_probe convention). Returns
    (top-k DataFrame, probed cell ids) so callers can assert pruning."""
    from hops_spark.ops.similarity import probe_cells, scan_cells
    vectors = spark.read.parquet(index_dir)
    qb = probe_cells(queries.select(qid_col, qvec_col), centroids, nprobe,
                     qvec_col)
    pruned, cells_needed = scan_cells(vectors, qb)
    unpacked = _unpack_codes(pruned, m, k, id_col)
    dtab = _adc_table(pq_subvectors(queries, m, d, qid_col, qvec_col),
                      codebook, qid_col)
    qcells = qb.select(qid_col, "cell").distinct()
    scored = (unpacked.join(F.broadcast(qcells), "cell")
                      .filter(F.col(id_col) != F.col(qid_col))
                      .join(F.broadcast(dtab), [qid_col, "sub", "code"])
                      .groupBy(qid_col, id_col)
                      .agg(F.sum("dpart").alias("adc_dist")))
    top = (_adc_top(scored, topk, id_col, qid_col)
           .select(qid_col, "rank", F.col(id_col).alias("neighbor_id"),
                   "adc_dist"))
    return top, cells_needed


def append_pq_cell_index(new_vectors: DataFrame,
                         centroids: list[tuple[int, list[float]]],
                         codebook: Codebook, index_dir: str,
                         m: int = 8, k: int = 16, d: int = 64,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> None:
    """Append-path twin of build_pq_cell_index: assign + encode the
    new vectors against the FROZEN coarse codebook and PQ codebook and
    append into the same cell partitions. Freezing both books is what
    keeps append probe-consistent (the append_cell_index contract);
    re-balancing either book is a rebuild, not an append."""
    from hops_spark.ops.similarity import _cell_sims
    cell_of = F.array_max(_cell_sims(F.col(vec_col), centroids)) \
               .getField("cell")
    codes = pq_encode(new_vectors, codebook, m, k, d, id_col, vec_col)
    (new_vectors.select(F.col(id_col), cell_of.alias("cell"))
                .join(codes, id_col)
                .write.mode("append").partitionBy("cell").parquet(index_dir))


# --- Residual PQ (IVFADC proper): encode x - coarse_centroid ----------


def centroid_micro_map(centroids: list[tuple[int, list[float]]]):
    """Column: map cell id -> centroid snapped to the SAME micro grid
    as the vectors (floor(c*1e6) per dim) — residuals must subtract in
    one integer space or nothing downstream is exact."""
    import math
    entries = []
    for cid, v in centroids:
        entries.append(F.lit(cid).cast("long"))
        entries.append(lit_array([math.floor(float(y) * PQ_MICRO)
                                  for y in v], "long"))
    return F.create_map(*entries)


def residual_subvectors(df: DataFrame,
                        centroids: list[tuple[int, list[float]]],
                        m: int, d: int, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """(id, cell, sub, sv): subvectors of the integer-micro RESIDUAL
    x - c_cell, with the cell from the build_cell_index argmax — the
    IVFADC encoding input (Jégou et al. 2011 §IV: quantizing residuals
    concentrates the distribution each sub-codebook sees, so the same
    code budget buys less distortion than quantizing raw vectors).
    Map-only: the centroid table rides as one literal map."""
    from hops_spark.ops.similarity import _cell_sims
    assert d % m == 0
    ds = d // m
    cell_of = F.array_max(_cell_sims(F.col(vec_col), centroids)) \
               .getField("cell").cast("long")
    xm = F.transform(F.col(vec_col),
                     lambda v: F.floor(v.cast("double") * PQ_MICRO)
                                .cast("long"))
    cmap = centroid_micro_map(centroids)
    # materialize `cell` BEFORE the map lookup: a complex expression as
    # the map-lookup key breaks getField resolution inside the lambda
    # (Catalyst resolves the field against the raw zip_with struct)
    staged = df.select(F.col(id_col), xm.alias("_xm"),
                       cell_of.alias("cell"))
    rm = F.zip_with(F.col("_xm"), cmap[F.col("cell")], lambda x, c: x - c)
    return (staged.select(F.col(id_col), "cell", rm.alias("_rm"),
                          F.explode(F.array(*[F.lit(s) for s in range(m)]))
                           .alias("sub"))
                  .select(F.col(id_col), "cell", "sub",
                          F.slice("_rm", F.col("sub") * ds + 1, ds)
                           .alias("sv")))


def train_residual_pq(df: DataFrame,
                      centroids: list[tuple[int, list[float]]],
                      m: int = 8, k: int = 16, d: int = 64,
                      iters: int = 2, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> Codebook:
    """Residual codebook shared across cells (the FAISS IVFPQ default):
    same Lloyd core as plain PQ, fed residual subvectors."""
    return pq_train_subs(
        residual_subvectors(df, centroids, m, d, id_col, vec_col),
        m, k, d // m, iters, id_col)


def build_residual_pq_index(corpus: DataFrame,
                            centroids: list[tuple[int, list[float]]],
                            codebook: Codebook, index_dir: str,
                            m: int = 8, k: int = 16, d: int = 64,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> None:
    """IVFADC index: (id, cell, packed residual codes), parquet
    partitioned by cell — same layout as build_pq_cell_index, but the
    codes now describe x - c_cell."""
    bits = max(1, (k - 1).bit_length())
    assert m * bits <= 62
    subs = residual_subvectors(corpus, centroids, m, d, id_col, vec_col)
    coded = subs.withColumn("code", _assign_code(codebook, m, k))
    packed = (F.col("code").cast("long")
              * F.pow(F.lit(2.0), (F.col("sub") * bits).cast("double"))
                 .cast("long"))
    (coded.groupBy(F.col(id_col), "cell")
          .agg(F.sum(packed).alias("pq_code"))
          .write.mode("overwrite").partitionBy("cell").parquet(index_dir))


def probe_residual_pq(spark, index_dir: str,
                      centroids: list[tuple[int, list[float]]],
                      codebook: Codebook, queries: DataFrame,
                      m: int = 8, k: int = 16, d: int = 64,
                      topk: int = 10, nprobe: int = 2,
                      id_col: str = "vec_id", qid_col: str = "q_id",
                      qvec_col: str = "q_vec"
                      ) -> tuple[DataFrame, list[int]]:
    """IVFADC probe: per (query, probed cell) the lookup table is built
    from the QUERY'S RESIDUAL against that cell (q - c_cell), so the
    ADC sum approximates ||q - (c_cell + recon(residual))||^2 — the
    correct IVFADC distance. Table size n_q * nprobe * m * k rows
    (bounded), broadcast; scan pruned to probed cells; candidates never
    read a float vector."""
    from hops_spark.ops.similarity import probe_cells, scan_cells
    vectors = spark.read.parquet(index_dir)
    qb = probe_cells(queries.select(qid_col, qvec_col), centroids, nprobe,
                     qvec_col).withColumn("cell", F.col("cell").cast("long"))
    pruned, cells_needed = scan_cells(vectors, qb)
    unpacked = _unpack_codes(pruned, m, k, id_col)
    ds = d // m
    # per-(query, cell) residual subvectors
    cmap = centroid_micro_map(centroids)
    qm = F.transform(F.col(qvec_col),
                     lambda v: F.floor(v.cast("double") * PQ_MICRO)
                                .cast("long"))
    qres = (qb.select(F.col(qid_col), "cell",
                      F.zip_with(qm, cmap[F.col("cell")],
                                 lambda x, c: x - c).alias("_qr"),
                      F.explode(F.array(*[F.lit(s) for s in range(m)]))
                       .alias("sub"))
              .select(F.col(qid_col), "cell", "sub",
                      F.slice("_qr", F.col("sub") * ds + 1, ds)
                       .alias("sv")))
    dtab = _adc_table(qres, codebook, qid_col, "cell")
    scored = (unpacked.join(F.broadcast(dtab), ["cell", "sub", "code"])
                      .filter(F.col(id_col) != F.col(qid_col))
                      .groupBy(qid_col, id_col)
                      .agg(F.sum("dpart").alias("adc_dist")))
    top = (_adc_top(scored, topk, id_col, qid_col)
           .select(qid_col, "rank", F.col(id_col).alias("neighbor_id"),
                   "adc_dist"))
    return top, cells_needed
